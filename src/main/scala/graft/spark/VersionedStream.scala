package graft.spark

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.execution.datasources.v2.orc.OrcTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core._

/**
 * Streaming CDC SOURCE over a versioned table (the Delta-style
 * `readStream.table` shape): the commit log becomes a stream, each
 * micro-batch carrying the NEW CONTENTS of the partitions whose version
 * moved in the consumed commit range. A downstream pipeline stage follows a
 * table incrementally — offsets are COMMIT INDEXES into the log, so
 * checkpoint recovery replays exactly the same commit ranges against the
 * immutable version dirs (append-only log + never-rewritten dirs make the
 * source naturally replayable).
 *
 * Scale design: offset bookkeeping is O(#commits) metadata on the driver;
 * batch planning diffs two commit-log FOLDS (O(#partitions), no file I/O),
 * and the data files of changed partitions are then read through Spark's
 * own V2 parquet/ORC scan — stock vectorized readers, pushdown, and split
 * planning, identical to the batch path. Nothing corpus-sized ever lands
 * on the driver.
 *
 * Semantics per table kind (same contract as [[VersionedReader.readChanges]]):
 * a batch emits the NET EFFECT of its commit range — the endpoint diff.
 *  - partitioned: the full new contents of each partition whose version
 *    differs between the range's endpoints — ingest pipelines whose
 *    commits land disjoint partitions (date loads) stream each partition
 *    exactly once;
 *  - snapshot: the endpoint version's full contents when it moved.
 * Per-commit granularity therefore holds exactly when micro-batches keep
 * pace with commits; a batch spanning several commits (backfill, restart
 * catch-up) collapses intermediate versions — consumers needing every
 * historical version replay commits one at a time via
 * [[VersionedReader.readChanges]].
 */
object VersionedStream {

  private[spark] final case class Handle(log: TableVersions, defn: TableDefinition)
  private[spark] val handles = TrieMap.empty[String, Handle]

  /** A streaming DataFrame over the table's commits. `handle` options wire
    * the (log, definition) pair through Spark's string-only source options;
    * the registry entry is dropped when the stream stops (a restarted query
    * re-enters through a fresh `readStream` call — a defined-but-never-
    * started DataFrame keeps its entry, a few object references, for the
    * process lifetime). */
  def readStream(
      spark: SparkSession,
      log: TableVersions,
      defn: TableDefinition,
      maxCommitsPerTrigger: Option[Int] = None,
      startingAt: Option[TableVersions.CommitId] = None): DataFrame = {
    val h = java.util.UUID.randomUUID().toString
    handles.put(h, Handle(log, defn))
    val r0 = spark.readStream
      .format(classOf[GraftCdcProvider].getName)
      .option("handle", h)
    val r = startingAt.fold(r0)(c => r0.option("startingCommit", c.id))
    maxCommitsPerTrigger
      .fold(r)(n => r.option("maxCommitsPerTrigger", n.toString))
      .load()
  }

  /** The CHANGE-FEED stream: same commit-indexed offsets, but each batch
    * carries row-level `_change_type` (insert/delete, [[ChangeFeed]])
    * instead of net new contents — the mode that can express
    * deletion-vector deletes and partition rewrites, so a downstream
    * consumer (merge sink, materialized view) CONVERGES to the source
    * after any delete. Pure-append commit ranges keep the zero-copy file
    * scan (rows tagged `insert` in flight); ranges containing a rewrite or
    * a DV delete materialize the feed once into a checkpoint-scoped
    * staging dir (batch-sized I/O, pruned as batches commit) and stream
    * that. */
  def readChangeFeed(
      spark: SparkSession,
      log: TableVersions,
      defn: TableDefinition,
      keys: Seq[String] = Nil,
      startingAt: Option[TableVersions.CommitId] = None): DataFrame = {
    val h = java.util.UUID.randomUUID().toString
    handles.put(h, Handle(log, defn))
    val r0 = spark.readStream
      .format(classOf[GraftCdcProvider].getName)
      .option("handle", h)
      .option("changeFeed", "true")
    val r = startingAt.fold(r0)(c => r0.option("startingCommit", c.id))
    (if (keys.isEmpty) r else r.option("feedKeys", keys.mkString(",")))
      .load()
  }

  /** The TRACKED change-feed stream — the keyless full-CDF vocabulary over
    * a row-tracked table: each batch's update pre/post images pair on the
    * engine's stamped row id and carried unchanged rows net out entirely
    * ([[ChangeFeed.readTracked]]), no declared key needed. The feed
    * carries the tracking column (the pairing witness). Same
    * commit-indexed offsets, staging discipline, and convergence contract
    * as [[readChangeFeed]]; pure-append ranges keep the zero-copy scan
    * (fresh-id rows are inserts by construction). */
  def readTrackedChangeFeed(
      spark: SparkSession,
      log: TableVersions,
      defn: TableDefinition,
      startingAt: Option[TableVersions.CommitId] = None): DataFrame = {
    require(RowTracking.enabled(spark, log, defn),
      s"table ${defn.name.fullyQualifiedName} has no row-tracking / identity " +
        "column — RowTracking.enable (or declare an identity column) first, " +
        "or consume readChangeFeed(keys = ...)")
    val h = java.util.UUID.randomUUID().toString
    handles.put(h, Handle(log, defn))
    val r0 = spark.readStream
      .format(classOf[GraftCdcProvider].getName)
      .option("handle", h)
      .option("changeFeed", "true")
      .option("trackedFeed", "true")
    startingAt.fold(r0)(c => r0.option("startingCommit", c.id))
      .load()
  }

  /** Everything a CATALOG-NAMED stream needs, as plain values — carried
    * inside the batch scan wrappers (`GraftDppFileScan`) so
    * `spark.readStream.table("cat.db.t")` works without a handle, while
    * the case-class equality that exchange/scan reuse depends on stays
    * structural. Resolution back to (log, definition) happens at
    * stream-start time through the catalog registry. */
  final case class GraftStreamInfo(
      catalog: String,
      table: String,
      schema: StructType,
      maxCommitsPerTrigger: Option[Int],
      startingCommit: Option[String],
      startingTimestamp: Option[String])

  /** Build the micro-batch stream for a catalog-named table — the
    * NET-CONTENTS mode only (each batch = new contents of moved
    * partitions, the same semantics as [[readStream]]): the feed modes
    * add a `_change_type` column the fixed relation schema of
    * `readStream.table` cannot carry — consume
    * [[readChangeFeed]]/[[readTrackedChangeFeed]] for those. */
  /** Resolve the mutually-exclusive `startingCommit`/`startingTimestamp`
    * pair to the commit a fresh stream starts AFTER — a timestamp names
    * the last commit at or before it, the `TIMESTAMP AS OF` rule. ONE
    * definition for both the handle-API provider and the catalog-named
    * stream, so the at-or-before contract cannot diverge between them. */
  private[spark] def resolveStartingAt(
      log: TableVersions,
      name: TableName,
      byCommit: Option[String],
      byTs: Option[String]): Option[String] = {
    require(byCommit.isEmpty || byTs.isEmpty,
      "startingCommit and startingTimestamp are mutually exclusive")
    byCommit.orElse(byTs.map { ts =>
      val asOf = java.time.Instant.parse(ts)
      log.updates(name) // newest first
        .find(!_.timestamp.isAfter(asOf))
        .getOrElse(sys.error(
          s"startingTimestamp $ts predates the history of " +
            name.fullyQualifiedName))
        .id.id
    })
  }

  def microBatchStream(
      info: GraftStreamInfo, checkpointLocation: String): MicroBatchStream = {
    val (binding, defn) = TableName.fromFullyQualified(info.table).toOption
      .flatMap(n => GraftTableCatalog.lookup(info.catalog, n))
      .getOrElse(sys.error(
        s"catalog '${info.catalog}' no longer binds table ${info.table}: " +
          "re-register before streaming"))
    val startAt = resolveStartingAt(
      binding.log, defn.name, info.startingCommit, info.startingTimestamp)
    new GraftCdcMicroBatchStream(
      Handle(binding.log, defn), null, info.schema,
      changeFeed = false, checkpointLocation = checkpointLocation,
      maxCommitsPerTrigger = info.maxCommitsPerTrigger,
      startingCommit = startAt)
  }

  /** Schema of the table as the batch reader would resolve it (data +
    * partition columns, LOGICAL names when a column mapping applies);
    * file-footer metadata only. A never-written table has no schema
    * anywhere — fail with the real cause instead of pinning an empty
    * schema into the stream (which would break every downstream column
    * reference with an unrelated analysis error). */
  private[spark] def resolveSchema(spark: SparkSession, h: Handle): StructType = {
    val schema = VersionedScan(
      spark, h.log, h.defn, vectors = VersionedScan.Vectors.Raw,
      names = VersionedScan.Names.AtState).schema
    if (schema.isEmpty)
      sys.error(
        s"table ${h.defn.name.fullyQualifiedName} has no committed data to resolve a " +
          "schema from; start the CDC stream after the first versioned write")
    schema
  }

  /** Chronological commit list (oldest first). */
  private[spark] def chronoCommits(h: Handle): List[TableVersions.TableUpdateMetadata] =
    h.log.updates(h.defn.name).reverse

  /** Table state after the first `n` commits; n = 0 is the pre-init void
    * (everything in a later state counts as changed against it). */
  private[spark] def stateAt(h: Handle, n: Int): Option[TableVersion] =
    if (n <= 0) None
    else {
      val chrono = chronoCommits(h)
      // a checkpointed offset beyond this log's history means the
      // checkpoint belongs to a DIFFERENT (or truncated) log — fail loudly
      // instead of replaying the wrong commit range
      require(n <= chrono.size,
        s"offset $n exceeds the ${chrono.size}-commit history of " +
          s"${h.defn.name.fullyQualifiedName}: checkpoint/log mismatch")
      Some(h.log.versionAt(h.defn.name, chrono(n - 1).id))
    }

  /** Whether the range REPLACES or REMOVES anything visible at `from` —
    * the condition under which an insert-only emission is lossy and the
    * change feed must also say `delete`. */
  private[spark] def replacesState(h: Handle, from: Int, to: Int): Boolean =
    (stateAt(h, from), stateAt(h, to)) match {
      case (None, _) | (_, None) => false
      case (Some(SnapshotTableVersion(a)), Some(SnapshotTableVersion(b))) =>
        a != Version.Unversioned && a != b
      case (Some(PartitionedTableVersion(pa)), Some(PartitionedTableVersion(pb))) =>
        pa.exists { case (p, v) => !pb.get(p).contains(v) }
      case _ => true // partitioning-shape change: never an append
    }

  /** Whether deletion vectors hid rows inside the commit range — the case
    * a net-new-contents batch cannot express at all. Cheap when the table
    * has no sidecars (a fold of the log); otherwise one
    * metadata-sized set-difference job. */
  private[spark] def dvHidRows(spark: SparkSession, h: Handle, from: Int, to: Int): Boolean = {
    if (to <= 0) return false
    val chrono = chronoCommits(h)
    val toId = chrono(to - 1).id
    val pairsTo = DeletionVectors.resolvePairs(spark, h.log, h.defn, Some(toId))
      .getOrElse(return false)
    val pairsFrom =
      if (from <= 0) None
      else DeletionVectors.resolvePairs(spark, h.log, h.defn, Some(chrono(from - 1).id))
    !pairsFrom.fold(pairsTo)(f => pairsTo.exceptAll(f)).isEmpty
  }

  /** The change-feed rows for a commit range, as a batch DataFrame. */
  private[spark] def feedFor(
      spark: SparkSession, h: Handle, from: Int, to: Int,
      keys: Seq[String] = Nil,
      tracked: Boolean = false): org.apache.spark.sql.DataFrame = {
    val chrono = chronoCommits(h)
    val fromId = if (from <= 0) None else Some(chrono(from - 1).id)
    // TRACKED mode: keyless full-CDF pairing on the engine-stamped row id
    if (tracked) ChangeFeed.readTracked(spark, h.log, h.defn, fromId, chrono(to - 1).id)
    else if (keys.isEmpty) ChangeFeed.read(spark, h.log, h.defn, fromId, chrono(to - 1).id)
    // KEYED mode: the batch's feed carries the full CDF vocabulary —
    // rewrite no-ops suppressed, update pre/post images paired per key
    else ChangeFeed.readKeyed(spark, h.log, h.defn, fromId, chrono(to - 1).id, keys)
  }

  /** Whether any merge-on-read append ([[RowOverlay]]) landed inside the
    * commit range — a fold of the range's commit lines (the `appends`
    * entry of each commit that published an overlay dir), behind the
    * legacy refusal of a log below format 2. Overlay rows live under
    * `_appends`, not under any version dir, so the zero-copy changed-dirs
    * scan cannot serve them: feed ranges route through staging,
    * net-contents ranges stage the diff. */
  private[spark] def overlayTouched(spark: SparkSession, h: Handle, from: Int, to: Int): Boolean = {
    MetadataFiles.requireNamedSidecars(spark.sessionState.newHadoopConf(), h.log, h.defn)
    chronoCommits(h).slice(math.max(from, 0), to)
      .exists(MetadataFiles.sidecarOf(_, MetadataFiles.Appends).isDefined)
  }

  /** Paths (+ reader options) of the partitions whose version moved between
    * commit index `from` and `to`. */
  private[spark] def changedPaths(
      h: Handle, from: Int, to: Int): (Seq[String], Map[String, String]) = {
    val defn = h.defn
    (stateAt(h, from), stateAt(h, to)) match {
      case (_, None) => (Nil, Map.empty)
      case (before, Some(SnapshotTableVersion(b))) =>
        val a = before.collect { case SnapshotTableVersion(v) => v }
        if (a.contains(b) || b == Version.Unversioned) (Nil, Map.empty)
        else (Seq(VersionPaths.pathFor(defn.location, b).toString), Map.empty)
      case (before, Some(PartitionedTableVersion(pb))) =>
        val pa = before.collect { case PartitionedTableVersion(m) => m }.getOrElse(Map.empty)
        val changed = pb.filter { case (p, v) => !pa.get(p).contains(v) }
        if (changed.isEmpty) (Nil, Map.empty)
        else (changed.toSeq.map { case (p, v) => SparkPaths.dirFor(defn.location, p, v) }.sorted,
          Map("basePath" -> defn.location.toString))
    }
  }

  /** Spark's own V2 file table over an explicit path list (the same
    * construction the DSv2 catalog uses for batch reads). */
  private[spark] def fileTable(
      spark: SparkSession,
      defn: TableDefinition,
      paths: Seq[String],
      opts: Map[String, String],
      schema: StructType): Table = {
    val options = new CaseInsensitiveStringMap(opts.asJava)
    defn.format match {
      case FileFormat.Orc =>
        OrcTable(defn.name.fullyQualifiedName, spark, options, paths, Some(schema),
          classOf[org.apache.spark.sql.execution.datasources.orc.OrcFileFormat])
      case _ =>
        ParquetTable(defn.name.fullyQualifiedName, spark, options, paths, Some(schema),
          classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
    }
  }
}

/** Zero-arg `TableProvider` so `readStream.format(<class name>)` resolves. */
final class GraftCdcProvider extends TableProvider {
  import VersionedStream._

  private def handleOf(options: CaseInsensitiveStringMap): Handle = {
    val h = options.get("handle")
    require(h != null, "graft CDC source requires a 'handle' option")
    handles.getOrElse(h, sys.error(s"unknown graft CDC handle: $h"))
  }

  private def isChangeFeed(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("changeFeed", false)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = resolveSchema(SparkSession.active, handleOf(options))
    if (isChangeFeed(options))
      base.add(org.apache.spark.sql.types.StructField(
        ChangeFeed.ChangeTypeCol, org.apache.spark.sql.types.StringType, nullable = true))
    else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftCdcTable(
      handleOf(opts), opts.get("handle"), schema, isChangeFeed(opts),
      feedKeys = Option(opts.get("feedKeys")).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      trackedFeed = opts.getBoolean("trackedFeed", false),
      startingCommit = startingAtOf(opts))
  }

  /** `startingCommit` / `startingTimestamp` options, resolved through
    * [[VersionedStream.resolveStartingAt]] — one at-or-before contract
    * shared with the catalog-named stream. */
  private def startingAtOf(options: CaseInsensitiveStringMap): Option[String] = {
    val byCommit = Option(options.get("startingCommit"))
    val byTs = Option(options.get("startingTimestamp"))
    if (byCommit.isEmpty && byTs.isEmpty) None
    else {
      val h = handleOf(options)
      VersionedStream.resolveStartingAt(h.log, h.defn.name, byCommit, byTs)
    }
  }
}

private[spark] final class GraftCdcTable(
    h: VersionedStream.Handle, handleId: String, tableSchema: StructType,
    changeFeed: Boolean, feedKeys: Seq[String] = Nil,
    trackedFeed: Boolean = false, startingCommit: Option[String] = None)
  extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {

  override def name(): String = s"graft-cdc:${h.defn.name.fullyQualifiedName}"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftCdcMicroBatchStream(
            h, handleId, tableSchema, changeFeed, checkpointLocation,
            maxCommitsPerTrigger =
              Option(options.get("maxCommitsPerTrigger")).map(_.toInt),
            feedKeys = feedKeys, trackedFeed = trackedFeed,
            startingCommit = startingCommit)
      }
    }
}

/** Offset = number of commits consumed from the (append-only) log, plus
  * the ID of the last consumed commit as a tamper check: a bare index would
  * silently remap to a DIFFERENT commit range if the log is checkpointed
  * ([[graft.core.JsonFileTableVersions.checkpoint]] folds old history into
  * a base entry, shrinking the commit list), losing or re-emitting changes
  * without error. On restore the id must match the commit the index now
  * names — a checkpointed-past-the-offset log fails loudly instead. */
private[spark] final case class CommitOffset(
    commits: Int, last: Option[String] = None) extends Offset {
  override def json(): String = last match {
    case Some(id) => s"""{"commits":$commits,"last":"$id"}"""
    case None     => s"""{"commits":$commits}"""
  }
}

private[spark] final class GraftCdcMicroBatchStream(
    h: VersionedStream.Handle, handleId: String, tableSchema: StructType,
    changeFeed: Boolean = false, checkpointLocation: String = "",
    maxCommitsPerTrigger: Option[Int] = None, feedKeys: Seq[String] = Nil,
    trackedFeed: Boolean = false, startingCommit: Option[String] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import VersionedStream._

  // ---- admission control: `maxCommitsPerTrigger` caps each micro-batch's
  // commit range, so a stream catching up over a long history (or a bulk
  // backfill) processes bounded batches instead of one giant first batch —
  // the maxFilesPerTrigger analog for commit-indexed offsets
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    maxCommitsPerTrigger
      .map(n => org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(n.toLong))
      .getOrElse(org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val chrono = chronoCommits(h)
    val from = start.asInstanceOf[CommitOffset].commits
    val capped = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        math.min(chrono.size, from + r.maxRows().toInt)
      case _ => chrono.size
    }
    CommitOffset(capped, chrono.take(capped).lastOption.map(_.id.id))
  }

  override def reportLatestOffset(): Offset = latestOffset()

  // planInputPartitions builds the per-range file scan; the engine asks for
  // the reader factory right after, for the same range (single-threaded
  // planning per micro-batch)
  @volatile private var currentBatch: Option[Batch] = None

  /** Where a FRESH stream (no checkpoint) starts: the pre-init void by
    * default — or, with `startingCommit`, just AFTER that commit: the
    * consumer declares it already holds the state as of it (a batch
    * backfill, a clone fork point) and wants only subsequent changes.
    * The 100 TB posture: without it, every new consumer's first batch
    * replays the entire table. Checkpointed restarts never pass through
    * here — their offset wins, exactly like Delta's startingVersion. */
  override def initialOffset(): Offset = startingCommit match {
    case None => CommitOffset(0)
    case Some(id) =>
      val chrono = chronoCommits(h)
      val j = chrono.indexWhere(_.id.id == id)
      require(j >= 0,
        s"startingCommit $id is not in the history of " +
          s"${h.defn.name.fullyQualifiedName} (checkpointed away, or a " +
          "different table's commit); start from a commit the log retains")
      CommitOffset(j + 1, Some(id))
  }

  override def latestOffset(): Offset = {
    val chrono = chronoCommits(h)
    CommitOffset(chrono.size, chrono.lastOption.map(_.id.id))
  }

  override def deserializeOffset(json: String): Offset = {
    val withId = """\{"commits":(\d+),"last":"([^"]*)"\}""".r
    val bare = """\{"commits":(\d+)\}""".r
    val off = json.trim match {
      case withId(n, id) => reanchor(CommitOffset(n.toInt, Some(id)))
      case bare(n)       => CommitOffset(n.toInt) // pre-id checkpoint (legacy)
      case other         => sys.error(s"malformed graft CDC offset: $other")
    }
    validate(off)
    off
  }

  /** Graceful resume across LOG CHECKPOINTS: a fold shifts commit indexes,
    * but it keeps the ids of every retained commit AND anchors the
    * synthetic base at the id of the last folded commit — so an offset
    * whose `last` id still exists anywhere in the new history names the
    * SAME table state at a new index, and the stream re-anchors there and
    * continues (states of retained commits are fold-invariant, so every
    * subsequent diff is unchanged). Only an offset STRICTLY INSIDE the
    * folded prefix is unresumable — the state it consumed through is gone,
    * so the missed diff cannot be computed — and [[validate]] keeps
    * refusing it loudly. */
  private def reanchor(off: CommitOffset): CommitOffset = off.last match {
    case Some(id) if off.commits > 0 =>
      val chrono = chronoCommits(h)
      if (off.commits <= chrono.size && chrono(off.commits - 1).id.id == id) off
      else chrono.indexWhere(_.id.id == id) match {
        case -1 => off // not found: validate() raises the loud refusal
        case j  => CommitOffset(j + 1, Some(id))
      }
    case _ => off
  }

  /** A restored offset must still name the commit it was minted against:
    * index `n`'s commit id is recorded in the offset, and a log checkpoint
    * that folded that commit away (or a checkpoint belonging to a different
    * log) surfaces as a loud mismatch, never a silently-shifted range.
    *
    * A LEGACY offset (pre-id `{"commits":n}` checkpoint) carries no commit
    * id, so the strongest available check applies instead: the index must
    * not exceed the current history length — a log checkpointed BELOW the
    * offset would otherwise silently remap the stream to a different commit
    * range, the exact failure the id was added to prevent. (One quirk of
    * the format upgrade: a restored legacy end offset never string-equals
    * the new id-carrying `latestOffset` JSON, so the engine may plan one
    * extra micro-batch over an empty commit range on the first restart —
    * `changedPaths(n, n)` is empty, the batch emits nothing, harmless.) */
  private def validate(off: CommitOffset): Unit = {
    lazy val chrono = chronoCommits(h)
    off.last match {
      case Some(id) =>
        require(off.commits > 0 && off.commits <= chrono.size &&
          chrono(off.commits - 1).id.id == id,
          s"graft CDC offset (${off.commits} commits, last $id) does not match the " +
            s"commit history of ${h.defn.name.fullyQualifiedName}" +
            chrono.lift(off.commits - 1).map(c => s" (index now names ${c.id.id})")
              .getOrElse(s" (history has only ${chrono.size} commits)") +
            ": the log was checkpointed past a live stream offset, or the " +
            "checkpoint belongs to a different log; restart the stream from a " +
            "fresh checkpoint")
      case None if off.commits > 0 =>
        require(off.commits <= chrono.size,
          s"graft CDC offset (${off.commits} commits, legacy pre-id format) exceeds " +
            s"the ${chrono.size}-commit history of ${h.defn.name.fullyQualifiedName}: " +
            "the log was checkpointed past a live stream offset, or the " +
            "checkpoint belongs to a different log; restart the stream from a " +
            "fresh checkpoint")
      case None => ()
    }
  }

  // whether the planned batch's rows need the constant `_change_type =
  // 'insert'` appended in flight (fast append-only path in feed mode)
  @volatile private var tagInserts: Boolean = false

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startOff = start.asInstanceOf[CommitOffset]
    val endOff = end.asInstanceOf[CommitOffset]
    validate(startOff); validate(endOff)
    val from = startOff.commits
    val to = endOff.commits
    val spark = SparkSession.active
    val replaced = replacesState(h, from, to)
    val dvChanged = dvHidRows(spark, h, from, to)
    // a column mapping makes raw file scans unserveable (footers carry
    // PHYSICAL names; the stream schema is LOGICAL): the feed mode routes
    // such ranges through staging, the insert-only mode refuses
    val mapped = to > 0 && ColumnMapping.hasMapping(
      spark, h.log, h.defn, Some(chronoCommits(h)(to - 1).id))
    if (!changeFeed && (dvChanged || mapped))
      // refusing is deliberate: silently emitting net new contents here
      // would diverge every consumer from the source (the newly-hidden
      // rows are not expressible without a _change_type column, and a
      // mapped table's raw scan would serve the wrong column names)
      sys.error(
        s"graft CDC stream over ${h.defn.name.fullyQualifiedName}: commit range " +
          s"($from, $to] " +
          (if (dvChanged) "hides rows behind deletion vectors" else "carries a column mapping") +
          ", which an insert-only raw-scan stream cannot express; consume the " +
          "change feed instead (VersionedStream.readChangeFeed — emits _change_type)")
    tagInserts = false
    val overlaid = VersionedStream.overlayTouched(spark, h, from, to)
    if (changeFeed && (replaced || dvChanged || mapped || overlaid)) {
      // materialize the feed once, batch-sized, under the query checkpoint
      val staged = stageFeed(spark, from, to)
      if (staged.isEmpty) { currentBatch = None; return Array.empty }
      val batch = fileTable(spark, h.defn, staged.toSeq, Map.empty, tableSchema)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
        .build()
        .toBatch
      currentBatch = Some(batch)
      batch.planInputPartitions()
    } else if (!changeFeed && overlaid) {
      // merge-on-read appends ARE net new contents, but overlay files keep
      // partition values as data while version dirs keep them as `k=v`
      // levels — one raw file scan cannot mix the layouts; stage the
      // range's net contents once under the checkpoint (the feed-staging
      // idempotence discipline)
      val staged = stageNet(spark, from, to)
      if (staged.isEmpty) { currentBatch = None; return Array.empty }
      val batch = fileTable(spark, h.defn, staged.toSeq, Map.empty, tableSchema)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
        .build()
        .toBatch
      currentBatch = Some(batch)
      batch.planInputPartitions()
    } else {
      val (paths, opts) = changedPaths(h, from, to)
      if (paths.isEmpty) { currentBatch = None; Array.empty }
      else {
        // append-only range (or legacy mode): zero-copy scan of the new
        // version dirs; feed mode tags rows 'insert' in the reader
        val scanSchema =
          if (changeFeed)
            StructType(tableSchema.filterNot(_.name == ChangeFeed.ChangeTypeCol))
          else tableSchema
        val batch = fileTable(spark, h.defn, paths, opts, scanSchema)
          .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
          .newScanBuilder(new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
          .build()
          .toBatch
        currentBatch = Some(batch)
        tagInserts = changeFeed
        batch.planInputPartitions()
      }
    }
  }

  /** Write the range's change-feed rows to
    * `<checkpoint>/graft-cdc-feed/batch-<from>-<to>` (idempotent: a
    * complete staging survives replays; an incomplete one — no _SUCCESS —
    * is rebuilt; version dirs and sidecars are immutable, so a rebuild
    * yields the same rows). Returns None when the feed is empty. */
  private def stageFeed(spark: SparkSession, from: Int, to: Int): Option[String] = {
    require(checkpointLocation.nonEmpty,
      "graft change-feed staging requires a checkpoint location")
    val dir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(checkpointLocation, "graft-cdc-feed"),
      s"batch-$from-$to")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    if (!fs.exists(success)) {
      if (fs.exists(dir)) fs.delete(dir, true)
      val feed = feedFor(spark, h, from, to, feedKeys, trackedFeed)
        .select(tableSchema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      feed.write.mode("overwrite").parquet(dir.toString)
    }
    val hasData = fs.listStatus(dir).exists(st =>
      st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
    if (hasData) Some(dir.toString) else None
  }

  /** Net-contents twin of [[stageFeed]] for overlay-carrying ranges: the
    * version-diff new contents plus the range's live overlay rows, staged
    * to `<checkpoint>/graft-cdc-feed/net-<from>-<to>` with the same
    * idempotence contract (immutable inputs; rebuilds yield the same
    * rows). */
  private def stageNet(spark: SparkSession, from: Int, to: Int): Option[String] = {
    require(checkpointLocation.nonEmpty,
      "graft overlay-range staging requires a checkpoint location")
    val dir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(checkpointLocation, "graft-cdc-feed"),
      s"net-$from-$to")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    if (!fs.exists(success)) {
      if (fs.exists(dir)) fs.delete(dir, true)
      val chrono = VersionedStream.chronoCommits(h)
      val toId = chrono(to - 1).id
      val rows =
        if (from <= 0)
          // first batch from the void: the whole state at `to`
          DeletionVectors.read(spark, h.log, h.defn, Some(toId))
        else
          VersionedReader(spark, h.log).readChanges(h.defn, chrono(from - 1).id, toId)
      rows.select(tableSchema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").parquet(dir.toString)
    }
    val hasData = fs.listStatus(dir).exists(st =>
      st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
    if (hasData) Some(dir.toString) else None
  }

  override def createReaderFactory(): PartitionReaderFactory =
    currentBatch match {
      case Some(b) =>
        val delegate = b.createReaderFactory()
        if (tagInserts) new AppendConstStringReaderFactory(delegate, ChangeFeed.Insert)
        else delegate
      case None =>
        // empty range: no partition will ever reach this factory
        new PartitionReaderFactory {
          override def createReader(p: InputPartition) =
            sys.error("no partitions planned for an empty graft CDC batch")
        }
    }

  /** Prune staged feed dirs whose batch is durably committed (their range
    * can never be replayed). */
  override def commit(end: Offset): Unit = {
    if (checkpointLocation.isEmpty) return
    val committed = end.asInstanceOf[CommitOffset].commits
    try {
      val root = new org.apache.hadoop.fs.Path(checkpointLocation, "graft-cdc-feed")
      val fs = root.getFileSystem(
        SparkSession.active.sessionState.newHadoopConf())
      if (fs.exists(root)) {
        // feed stagings (batch-*) and net-contents stagings (net-*) share
        // the root and the same committed-range GC rule
        val Batch = """(?:batch|net)-(\d+)-(\d+)""".r
        fs.listStatus(root).foreach { st =>
          st.getPath.getName match {
            case Batch(_, to) if to.toInt <= committed => fs.delete(st.getPath, true); ()
            case _ => ()
          }
        }
      }
    } catch { case _: java.io.IOException => () } // best-effort GC
  }

  /** Drop the registry entry: the stopped stream's handle would otherwise
    * pin its log reference for the process lifetime (restarts re-enter
    * through a fresh `readStream` call with a fresh handle). */
  override def stop(): Unit = { if (handleId != null) handles.remove(handleId); () }
}

/** Appends a constant string as the LAST column of every row — the
  * change-feed stream's zero-copy append path (`_change_type = 'insert'`
  * over the raw new-version file scan, no staging write). Row-based on
  * purpose: the constant join is an `InternalRow` concat, so columnar
  * reads are declined. */
private[spark] final class AppendConstStringReaderFactory(
    delegate: PartitionReaderFactory, value: String) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(
      p: InputPartition): org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] = {
    val d = delegate.createReader(p)
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      private val const = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(value))
      override def next(): Boolean = d.next()
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        joined(d.get(), const)
      override def close(): Unit = d.close()
    }
  }
}
