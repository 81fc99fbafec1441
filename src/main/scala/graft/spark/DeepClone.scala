package graft.spark

import java.net.URI
import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.core.TableVersions.{CommitId, TableUpdate, UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/**
 * DEEP CLONE — an independent physical copy of a table state (the Delta
 * `CREATE TABLE dst DEEP CLONE src` semantics): the clone gets its OWN
 * location holding a fresh materialization of the cloned state's RESOLVED
 * rows, plus the source's table-level declarations. Unlike
 * [[ShallowClone]], nothing is shared afterwards — no linkage tags, no
 * vacuum coupling, either side vacuums/compacts/evolves freely. The price
 * is one distributed read+write of the cloned state (a shallow clone is
 * O(#partitions) metadata); the payoff over plain CTAS is the carried
 * metadata a SELECT cannot express.
 *
 * "Resolved" means what a SELECT sees at the cloned commit: deletion
 * vectors applied, merge-on-read overlay rows unioned in, column-mapping
 * renames/drops and type widening resolved to the logical schema. The
 * clone therefore starts with ZERO sidecar debt — deep-cloning a
 * DV/overlay-heavy table is also its compaction.
 *
 * Carried declarations (riding the clone's state commit, owned
 * independently from then on): CHECK constraints, generated-column rules,
 * column DEFAULTs, comments, TBLPROPERTIES, the identity declaration WITH
 * the source's high-water mark at the cloned state (clone writes never
 * re-mint carried ids), and the COPY INTO load history (the clone never
 * re-ingests files whose rows it already holds). Deletion vectors,
 * overlays, and the column mapping do NOT carry — their effects are
 * materialized into the copied rows.
 *
 * A mixed-era source (metadata-only partition evolution) materializes
 * entirely under the CURRENT scheme of the cloned state: the copy job
 * re-buckets old-era rows, so the clone has exactly one era.
 */
object DeepClone {

  /** Copy `src`'s state at `asOf` (default: current) into the new table
    * `dst` at `dstLocation`. Returns the clone's definition. */
  def clone(
      spark: SparkSession,
      ctx: VersionContext,
      src: TableDefinition,
      dst: TableName,
      dstLocation: URI,
      user: UserId,
      asOf: Option[CommitId] = None): TableDefinition = {
    val log = ctx.metastore.tableVersions
    require(dst != src.name, "a table cannot deep-clone itself")
    require(Partition.normalizedDir(dstLocation) != Partition.normalizedDir(src.location),
      "DEEP CLONE needs its own location — to fork in place use SHALLOW CLONE")
    val at = asOf.getOrElse(log.currentCommit(src.name))

    // the clone materializes under the era-correct scheme of the cloned
    // state (same resolution as ShallowClone — a caller's definition may
    // predate an evolution)
    val dstDefn = TableDefinition(
      dst, dstLocation,
      PartitionEvolution.schemeAt(spark, log, src, Some(at)), src.format)
    ctx.init(dstDefn, user, UpdateMessage(
      s"DEEP CLONE of ${src.name.fullyQualifiedName} @ ${at.id}"))

    // TIER CHOICE. When the cloned state's files are exactly its rows
    // ([[FileCopy.filesAreRows]], the predicate the SQL append's carry
    // shares) the clone copies data files byte-for-byte as per-file
    // distributed tasks: a 100 TB table clones at storage bandwidth
    // instead of CPU decode+re-encode speed, and file sizes/statistics
    // carry over exactly. Any sidecar debt or recorded schema state falls
    // back to the resolved-rows write (which doubles as the clone's
    // compaction).
    // the source's declarations ride the clone's state commit
    val declared = MetadataFiles.declared(spark, log, src)
    if (FileCopy.filesAreRows(spark, log, src, at)) {
      val ops = rawCopy(spark, src, dstLocation, log.versionAt(src.name, at))
      if (ops.nonEmpty || declared.nonEmpty) {
        // byte copies: the files keep the source state's data schema
        ctx.metastore.commit(dst, TableUpdate(
          user,
          UpdateMessage(s"deep clone (raw file copy) state of " +
            s"${src.name.fullyQualifiedName} @ ${at.id}"),
          Instant.now(), ops)
          .withTableMetadata(declared ++ DataSchema.carried(spark, log, src, at)))
        ()
      }
    } else {
      // one distributed write of the resolved rows (DV-applied, overlay-
      // unioned, logically named), staged BEFORE the declarations are in
      // force: a declared identity column would reject the batch
      // (GENERATED ALWAYS refuses supplied ids) and a generated-column
      // rule would re-derive values the rows already carry.
      // The clone carries NO column mapping, so its files must hold the
      // CURRENT logical names (the names the clone registers and a
      // VERSION AS OF load of the source would declare) — a raw
      // physical-named copy of a renamed source would NULL-blank the
      // renamed column under the clone's declared schema.
      val rows = VersionedScan(
        spark, log, src, Some(at), names = VersionedScan.Names.AtHead)
      val message = UpdateMessage(
        s"deep clone state of ${src.name.fullyQualifiedName} @ ${at.id}")
      val state =
        if (rows.columns.nonEmpty && !rows.isEmpty)
          Some(rows.versionedStage(ctx, dstDefn, user, message).landing(ctx.metastore.tableVersions))
        else if (declared.nonEmpty) Some(TableUpdate(user, message, Instant.now(), Nil))
        else None
      state.foreach { u =>
        ctx.metastore.commit(dst, u.withTableMetadata(declared))
        ()
      }
    }

    // identity: the carried declaration plus the source's high-water mark
    // AT the cloned state, riding a metadata commit exactly like
    // ShallowClone — a clone write stamping from 0 would collide with
    // carried ids
    IdentityColumns.declared(spark, log, src).foreach { c =>
      val mark = IdentityColumns.markText(
        c, IdentityColumns.effectiveHighWaterMarkAt(spark, log, src, c, Some(at)))
      ctx.metastore.commit(dst, TableUpdate(
        user,
        UpdateMessage(s"deep clone identity carry of " +
          s"${src.name.fullyQualifiedName} @ ${at.id} $mark"),
        Instant.now(), Nil))
      ()
    }
    // COPY INTO load history: the copied rows contain the source's
    // ingested data, so the loaded-file set must carry or a COPY INTO on
    // the clone from the same landing dir would duplicate rows
    val loaded = CopyInto.loadedFiles(log, src.name)
    if (loaded.nonEmpty) {
      ctx.metastore.commit(dst, TableUpdate(
        user,
        UpdateMessage(s"COPY INTO ${dst.fullyQualifiedName} from deep-clone-carry of " +
          s"${src.name.fullyQualifiedName} files=[${loaded.toList.sorted.mkString(";")}]"),
        Instant.now(), Nil))
      ()
    }
    dstDefn
  }

  /** The distcp-shaped copy: list the state's version dirs distributed
    * (one task per dir — names only return to the driver, the
    * Vacuum/Convert listing bound), then byte-copy each data file as its
    * own task ([[FileCopy.copy]]). The clone reuses the SOURCE's version
    * labels (labels are mint-unique; dirs differ by table location), so
    * the returned ops register the copied dirs verbatim. */
  private def rawCopy(
      spark: SparkSession,
      src: TableDefinition,
      dstLocation: URI,
      tv: TableVersion): List[TableVersions.TableOperation] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val (dirPairs, ops) = tv match {
      case SnapshotTableVersion(v) if v == Version.Unversioned =>
        (Nil, Nil) // never-written source: nothing to copy
      case SnapshotTableVersion(v) =>
        (List((VersionPaths.pathFor(src.location, v).toString,
          VersionPaths.pathFor(dstLocation, v).toString)),
          List(TableVersions.TableOperation.AddTableVersion(v)))
      case PartitionedTableVersion(pvs) =>
        (pvs.toList.map { case (p, v) =>
          (SparkPaths.dirFor(src.location, p, v), SparkPaths.dirFor(dstLocation, p, v))
        },
          pvs.toList.map { case (p, v) =>
            TableVersions.TableOperation.AddPartitionVersion(p, v)
          })
    }
    if (dirPairs.isEmpty) return Nil
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val sc = spark.sparkContext
    val listSlices = math.max(1, math.min(dirPairs.size, sc.defaultParallelism))
    val files = sc.parallelize(dirPairs, listSlices).flatMap { case (s, d) =>
      FileCopy.dataFiles(new HPath(s).getFileSystem(sconf.value), new HPath(s)).map((s, d, _))
    }.collect().toSeq
    FileCopy.copy(spark, files, "DEEP CLONE")
    ops
  }
}
