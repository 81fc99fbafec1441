package graft.spark

import java.time.Instant
import java.util.UUID

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.core.TableVersions.{CommitId, TableOperation, TableUpdate, TableUpdateMetadata, UpdateMessage, UserId}

/**
 * SHALLOW CLONE — zero-copy table fork (the Delta `CREATE TABLE ... SHALLOW
 * CLONE src [VERSION AS OF v]` semantics, re-expressed on the version-dir
 * model): the clone is a NEW table in the commit log whose first commit
 * references the SOURCE's version directories. Not a byte of data moves —
 * cloning a 100 TB table is O(#partitions) metadata. Because version dirs
 * are immutable and writers only ever create fresh labels, the fork is
 * free of interference by construction:
 *
 *  - writes to the clone mint NEW version dirs (under the shared physical
 *    location) that the source's log never references — the source is
 *    unaffected;
 *  - writes to the source move the SOURCE's pointers — the clone keeps
 *    serving the dirs its own log references.
 *
 * Linkage is recorded as TAGS on both sides (`clone:<dst>` on the source
 * at the cloned commit, `cloned-from:<src>` on the clone), which
 * [[Vacuum]] already treats as retention pins — the cloned state's dirs
 * cannot be reclaimed out from under the clone by a source vacuum. Beyond
 * pinning, [[Vacuum.vacuum]] REFUSES outright on either side of a live
 * clone link: the two logs share one physical namespace, and a vacuum
 * driven by only one log would reclaim dirs only the other references
 * (e.g. the clone's post-fork writes look unreferenced to the source).
 * Dropping the link (`deleteRef`) re-enables vacuum.
 *
 * Commit-anchored / shared metadata is CARRIED into the clone's own
 * namespace at clone time, so states that depend on it stay correct and
 * the fork stays isolated both ways:
 *  - live DELETION VECTORS and OVERLAY ROWS: the source's resolved pair
 *    state and overlay rows materialize as one complete sidecar each,
 *    written under the clone's pre-chosen state commit id BEFORE that
 *    commit names them — cloned reads keep hiding deleted rows and
 *    serving appended ones, and each side's later sidecars anchor under
 *    its own (uuid) commit ids, which the other's log never names;
 *  - COMMIT-CARRIED metadata — an active COLUMN MAPPING, the
 *    PARTITION-EVOLUTION era and the nested-evolution SCHEMA STATE: the
 *    source's resolved values ride the clone's state commit, so
 *    renames/drops, the era and struct shapes survive the clone, and each
 *    side evolves them independently through its own log;
 *  - the DECLARATIONS (constraints, generated columns, identity,
 *    defaults, comments, TBLPROPERTIES): the source's current set rides
 *    the same state commit, owned independently from then on; the
 *    identity HIGH-WATER MARK rides the clone-state commit message so
 *    clone writes never re-mint carried ids;
 *  - the COPY INTO load history: one metadata commit carries the
 *    source's loaded-file set so the clone never re-ingests rows it
 *    already holds.
 */
object ShallowClone {

  /** Tag prefixes recording a clone link (both are TAGS — immutable). */
  val CloneTagPrefix = "clone:"
  val ClonedFromTagPrefix = "cloned-from:"

  /** True if this table is either side of a live clone link. */
  def hasCloneLink(log: TableVersions, table: TableName): Boolean =
    log.refs(table).keys.exists(n =>
      n.startsWith(CloneTagPrefix) || n.startsWith(ClonedFromTagPrefix))

  /** Fork `src` as the new table `dst` at commit `asOf` (default: the
    * source's current state). Returns the clone's table definition —
    * same location, format, and partition schema as the source; its own
    * independent history. */
  def clone(
      spark: SparkSession,
      ctx: VersionContext,
      src: TableDefinition,
      dst: TableName,
      user: UserId,
      asOf: Option[CommitId] = None): TableDefinition = {
    val log = ctx.metastore.tableVersions
    val at = asOf.getOrElse(log.currentCommit(src.name))
    require(dst != src.name, "a table cannot clone itself")

    val state = log.versionAt(src.name, at)
    // the clone's definition carries the ERA-CORRECT scheme of the cloned
    // state (an evolved source's caller may hold a stale definition)
    val dstDefn = TableDefinition(
      dst, src.location,
      PartitionEvolution.schemeAt(spark, log, src, Some(at)), src.format)
    ctx.init(dstDefn, user, UpdateMessage(
      s"SHALLOW CLONE of ${src.name.fullyQualifiedName} @ ${at.id}"))
    val ops: List[TableOperation] = state match {
      case SnapshotTableVersion(v) =>
        if (v == Version.Unversioned) Nil else List(TableOperation.AddTableVersion(v))
      case PartitionedTableVersion(pvs) =>
        pvs.toList.map { case (p, v) => TableOperation.AddPartitionVersion(p, v) }
    }
    // identity carry: the clone inherits the declaration (carried below
    // with the other declarations), and the source's high-water mark AT
    // the cloned state rides the clone-state commit message — a clone
    // write stamping from a fresh mark of 0 would collide with the carried
    // rows' ids
    val identityMark = IdentityColumns.declared(spark, log, src).map { c =>
      // resolve like the WRITE path (lineage mark, else max(id) over the
      // cloned state, DV-hidden rows included): a checkpoint that folded
      // the source's mark must not carry hwm=0 and re-mint carried ids
      " " + IdentityColumns.markText(
        c, IdentityColumns.effectiveHighWaterMarkAt(spark, log, src, c, Some(at)))
    }.getOrElse("")
    // commit-carried metadata rides the state commit. The CURRENT
    // effective mapping carries (not the at-state one): the clone's files
    // keep their frozen PHYSICAL names, and the clone — like a `VERSION
    // AS OF` load of the source (the pinned SQL posture) — serves the
    // CURRENT logical names over them; carrying the at-state mapping would
    // leave a post-`at` rename's registered name with no physical
    // resolution and NULL-blank real values. The era, the struct shapes
    // and the files' data schema carry as resolved at the cloned commit,
    // the declarations as in force at the source's head.
    val none = Map.empty[String, String]
    val carried =
      ColumnMapping.entriesAt(spark, log, src, None)
        .fold(none)(MetadataFiles.columnMapping.entry) ++
      MetadataFiles.governing(MetadataFiles.partitioning.fold(spark, log, src, Some(at)))
        .fold(none)(c => MetadataFiles.partitioning.entry(MetadataFiles.Change(c, c))) ++
      SchemaStates.at(spark, log, src, at).fold(none)(s => SchemaStates.entry(s, s)) ++
      DataSchema.carried(spark, log, src, at) ++
      MetadataFiles.declared(spark, log, src)
    // DV pairs and overlay rows carry into the clone's own namespace (see
    // the class doc), written under the state commit's id before it lands
    val stateId = CommitId(UUID.randomUUID().toString)
    val sidecars =
      DeletionVectors.cloneResolvedState(spark, log, src, at, dstDefn, stateId) ++
        RowOverlay.cloneResolvedState(spark, log, src, at, dstDefn, stateId)
    // the mark and the carried metadata must ride a commit even when the
    // cloned state has no ops (an empty-state clone still inherits the
    // never-reuse-ids contract and the source's metadata)
    if (ops.nonEmpty || identityMark.nonEmpty || carried.nonEmpty || sidecars.nonEmpty) {
      ctx.metastore.commit(dst, TableUpdate(
        TableUpdateMetadata(stateId, user, UpdateMessage(
          s"clone state of ${src.name.fullyQualifiedName} @ ${at.id}$identityMark"),
          Instant.now()), ops).withTableMetadata(carried ++ sidecars))
      ()
    }
    // COPY INTO load history: the clone's data already contains the
    // source's ingested rows, so the loaded-file set must carry — without
    // it, a COPY INTO on the clone from the same landing dir would
    // re-ingest (duplicate) them. One metadata-only commit whose message
    // speaks the clone's own ingest-record shape.
    val loaded = CopyInto.loadedFiles(log, src.name)
    if (loaded.nonEmpty) {
      ctx.metastore.commit(dst, TableUpdate(
        user, UpdateMessage(
          s"COPY INTO ${dst.fullyQualifiedName} from clone-carry of " +
            s"${src.name.fullyQualifiedName} files=[${loaded.toList.sorted.mkString(";")}]"),
        Instant.now(), Nil))
      ()
    }
    // linkage tags: pin the cloned state against source vacuum, mark both
    // sides so vacuum refuses while the link lives
    log.setRef(src.name, CloneTagPrefix + dst.fullyQualifiedName, at, isTag = true)
    log.setRef(dst, ClonedFromTagPrefix + src.name.fullyQualifiedName,
      log.currentCommit(dst), isTag = true)
    dstDefn
  }

  /** Sever a clone link: drop the `clone:<dst>` tag on the source and the
    * `cloned-from:<src>` tag on the clone (whichever exist), re-enabling
    * vacuum on both sides. The clone TABLE keeps working — only the
    * vacuum-safety linkage is dropped, so the caller takes on the Delta
    * caveat: a source vacuum may now reclaim dirs the clone references. */
  def unlink(log: TableVersions, src: TableName, dst: TableName): Unit = {
    val srcTag = CloneTagPrefix + dst.fullyQualifiedName
    val dstTag = ClonedFromTagPrefix + src.fullyQualifiedName
    if (log.refs(src).contains(srcTag)) log.deleteRef(src, srcTag)
    if (log.refs(dst).contains(dstTag)) log.deleteRef(dst, dstTag)
  }
}
