package graft.spark

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, NoopCache}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.core.FileFormat

/**
 * Driver-side metadata caches for IMMUTABLE versioned dirs: the driver
 * should not redo, per read, work that the layout makes redundant. This
 * module owns the one decision both caches rest on: published version
 * dirs and overlay dirs never change.
 *
 * Version dirs and overlay dirs are IMMUTABLE once referenced (labels are
 * mint-unique; overlay/`_deletes` dirs are staged then atomically
 * published under fresh commit ids), so both a dir's file list and the
 * footer-derived schema of a path LIST can never change — caching them is
 * sound with no invalidation protocol. A new commit serves a DIFFERENT
 * path (new version label), which is a different key. Staging dirs,
 * sidecars and [[FileStats]] file lists are never routed through here.
 *
 * Two caches:
 *
 *  - LISTINGS. Every stock read builds a fresh `InMemoryFileIndex` with a
 *    fresh `FileStatusCache` client, so it re-lists every dir; above
 *    Spark's parallel-listing threshold (32 paths) that is one Spark job
 *    with one task per dir on every read. [[fileIndex]] builds the index
 *    against ONE long-lived client of Spark's own shared cache
 *    (`FileStatusCache.getOrCreate`, bounded in bytes by
 *    `spark.sql.hive.filesourcePartitionFileCacheSize`; 0 disables it
 *    through `NoopCache`), so a read lists only dirs no earlier read
 *    listed: a commit's one new dir is listed on the driver, and only a
 *    cold table with more than 32 unseen dirs still pays the listing job.
 *    The index still runs `DataSource.checkAndGlobPathIfNecessary` with
 *    `checkFilesExist = true` on every build, so a vacuumed dir fails
 *    analysis exactly as before — vacuum needs no invalidation (labels
 *    are never reused).
 *  - SCHEMAS. Every stock `spark.read.load(paths)` / DSv2
 *    `FileTable.schema()` runs one Spark job over parquet/ORC footers
 *    (`SchemaMergeUtils.mergeSchemasInParallel` — a distributed job even
 *    for ONE footer). [[load]] keys the inferred schema per (format,
 *    options, path list); a miss infers from the index it already built.
 *    Type widening overrides ride ABOVE this cache (the reader applies an
 *    explicit schema), unaffected. Entries are O(schema); at `MaxKeys`
 *    the map resets rather than evicting (simplicity over LRU — a reset
 *    costs one re-inference per live state).
 *
 * `REFRESH TABLE` on a graft table drops both caches for every table (the
 * shared listing cache evicts per client, not per path); the next read of
 * each state re-lists and re-infers once.
 */
object SchemaCache {

  private val MaxKeys = 8192
  private val cache = new ConcurrentHashMap[String, StructType]()

  // one client for the process: Spark's shared cache keys entries by
  // (client, path), so a client per read would never hit
  @volatile private var listingClient: FileStatusCache = _

  private def key(format: String, options: Map[String, String], paths: Seq[String]): String =
    ((format +: options.toSeq.sorted.map { case (k, v) => s"$k=$v" }) ++ ("" +: paths.sorted))
      .mkString("\u0000")

  /** The cached schema for exactly `paths` under `format`, computing (and
    * caching) via `infer` on first sight. `paths` must be immutable —
    * published version/overlay dirs or fixed input files, never staging
    * or sidecar dirs that can be re-published in place. */
  def getOrInfer(
      format: String,
      mergeSchema: Boolean,
      paths: Seq[String])(infer: => StructType): StructType = {
    val k = key(format, Map("mergeSchema" -> mergeSchema.toString), paths)
    Option(cache.get(k)).getOrElse(remember(k, infer))
  }

  private def remember(k: String, schema: StructType): StructType = {
    if (cache.size() > MaxKeys) cache.clear()
    cache.put(k, schema)
    schema
  }

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

  /** `REFRESH TABLE`: forget every cached listing and schema. */
  private[spark] def invalidateAll(): Unit = {
    Option(listingClient).foreach(_.invalidateAll())
    cache.clear()
  }

  /** An `InMemoryFileIndex` over published version/overlay dirs, listed
    * through the shared cache. The existence check of the stock path runs
    * on every build: a reclaimed dir fails here, never from the cache. */
  private[spark] def fileIndex(
      spark: SparkSession,
      paths: Seq[String],
      options: Map[String, String],
      schema: Option[StructType]): InMemoryFileIndex = {
    val roots = org.apache.spark.sql.GraftSqlShim.checkedPaths(
      paths, spark.sessionState.newHadoopConfWithOptions(options))
    new InMemoryFileIndex(spark, roots, options, schema, listings(spark))
  }

  /** A batch scan of published version/overlay dirs — the plan
    * `spark.read.format(f).options(o).schema(s).load(paths)` builds (a V1
    * `HadoopFsRelation`, so `_metadata` pointers and partition pruning
    * behave the same), with the listing from the shared cache and, when
    * `schema` is None, the cached schema (a miss infers from the index
    * already built). */
  private[spark] def load(
      spark: SparkSession,
      format: FileFormat,
      paths: Seq[String],
      options: Map[String, String],
      schema: Option[StructType] = None): DataFrame = {
    // the catalog's format mapping (GraftTableCatalog.buildFileTable)
    val fileFormat = if (format == FileFormat.Orc) new OrcFileFormat else new ParquetFileFormat
    val k = key(format.name, options, paths)
    val known = schema.orElse(Option(cache.get(k)))
    val rel = org.apache.spark.sql.GraftSqlShim.fileRelation(
      spark, fileIndex(spark, paths, options, known), fileFormat, options, known)
    if (known.isEmpty) remember(k, rel.schema)
    spark.baseRelationToDataFrame(rel)
  }
}
