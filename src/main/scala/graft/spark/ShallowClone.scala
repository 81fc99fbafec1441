package graft.spark

import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.core.TableVersions.{CommitId, TableOperation, TableUpdate, UpdateMessage, UserId}

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
 *  - live DELETION VECTORS: the source's resolved pair state
 *    materializes as one complete (`_squashed`) sidecar anchored at the
 *    clone's state commit — cloned reads keep hiding deleted rows, and
 *    each side's later deletes anchor under its own (uuid) commit ids,
 *    invisible to the other's resolution walk;
 *  - an active COLUMN MAPPING: the effective mapping state is appended
 *    to the shared mapping file re-anchored at the clone's commit —
 *    renames/drops survive the clone, and each side evolves the mapping
 *    independently through its own lineage;
 *  - table CONSTRAINTS, GENERATED-COLUMN rules, and the IDENTITY
 *    declaration: the clone inherits the source's current set into its
 *    own name-keyed metadata files, owning them independently from then
 *    on; the identity HIGH-WATER MARK rides the clone-state commit
 *    message so clone writes never re-mint carried ids;
 *  - the PARTITION-EVOLUTION era registry: the effective scheme
 *    re-anchors at the clone's commit (owner-tagged in the shared file);
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
    val identityMark = IdentityColumns.declared(spark, src).map { c =>
      // resolve like the WRITE path (lineage mark, else max(id) over the
      // cloned state, DV-hidden rows included): a checkpoint that folded
      // the source's mark must not carry hwm=0 and re-mint carried ids
      " " + IdentityColumns.markText(
        c, IdentityColumns.effectiveHighWaterMarkAt(spark, log, src, c, Some(at)))
    }.getOrElse("")
    // the mark must ride a commit even when the cloned state has no ops
    // (an empty-state clone still inherits the never-reuse-ids contract)
    if (ops.nonEmpty || identityMark.nonEmpty) {
      ctx.metastore.commit(dst, TableUpdate(
        user, UpdateMessage(
          s"clone state of ${src.name.fullyQualifiedName} @ ${at.id}$identityMark"),
        Instant.now(), ops))
      ()
    }
    // carry commit-anchored / shared metadata into the clone's own
    // namespace, re-anchored at the clone's state commit (see the class
    // doc): DV pairs, the effective column mapping, and the current
    // declarations all survive the fork with both-ways isolation
    val cloneAnchor = log.currentCommit(dst)
    if (DeletionVectors.hasVectors(spark, log, src, Some(at)))
      DeletionVectors.cloneResolvedState(spark, log, src, at, cloneAnchor)
    // merge-on-read overlay rows: resolved (live, DV-applied) rows carry as
    // one complete overlay dir anchored at the clone's state commit
    RowOverlay.cloneResolvedState(spark, log, src, at, cloneAnchor)
    // the CURRENT effective mapping carries (not the at-state one): the
    // clone's files keep their frozen PHYSICAL names, and the clone —
    // like a `VERSION AS OF` load of the source (the pinned SQL posture)
    // — serves the CURRENT logical names over them; carrying the at-state
    // mapping would leave a post-`at` rename's registered name with no
    // physical resolution and NULL-blank real values
    ColumnMapping.stateAt(spark, log, src, None).foreach { s =>
      ColumnMapping.cloneStateTo(spark, src, s, cloneAnchor, dst)
    }
    MetadataFiles.carry(spark, src, dstDefn)
    PartitionEvolution.stateAt(spark, log, src, Some(at)).foreach { s =>
      PartitionEvolution.cloneStateTo(spark, src, s, cloneAnchor, dst)
    }
    // nested-evolution schema states: the source's resolved struct shapes
    // at the cloned commit seed ONE state anchored at the clone's state
    // commit — the clone's time travel reads the cloned shapes, and later
    // nested evolutions on either side stay isolated (separate keyed files)
    SchemaStates.at(spark, log, src, at).foreach { shape =>
      SchemaStates.cloneStateTo(spark, dstDefn, shape, cloneAnchor)
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
