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
 * Carried declarations (seeded into the clone's own metadata, owned
 * independently from then on): CHECK constraints, generated-column rules,
 * column DEFAULTs, the identity declaration WITH the source's high-water
 * mark at the cloned state (clone writes never re-mint carried ids), and
 * the COPY INTO load history (the clone never re-ingests files whose rows
 * it already holds). Deletion vectors, overlays, and the column mapping
 * do NOT carry — their effects are materialized into the copied rows.
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

    // TIER CHOICE. When the cloned state has ZERO sidecar debt — no
    // deletion vectors, no overlay rows, no column mapping (renames/
    // drops/widening), one partition era — the resolved rows ARE the
    // bytes on disk, so the clone copies data files byte-for-byte as
    // per-file distributed tasks: a 100 TB table clones at storage
    // bandwidth instead of CPU decode+re-encode speed, and file sizes/
    // statistics carry over exactly. Any sidecar debt falls back to the
    // resolved-rows write (which doubles as the clone's compaction).
    val tvAt = log.versionAt(src.name, at)
    val sidecarFree =
      !ColumnMapping.hasMapping(spark, log, src, Some(at)) &&
      !DeletionVectors.hasVectors(spark, log, src, Some(at)) &&
      RowOverlay.contributions(spark, log, src, Some(at)).isEmpty &&
      PartitionEvolution.eraSignatures(tvAt).size <= 1 &&
      // declared-schema evolution (nested ADDs, TYPE widening) leaves
      // HETEROGENEOUS files behind: a raw copy would register them with
      // no carried schema, and a single-footer inference could then drop
      // evolved fields the resolved tier materializes as typed NULLs —
      // any recorded schema state falls back to the resolved-rows write
      SchemaStates.list(spark, src).isEmpty
    if (sidecarFree) {
      val ops = rawCopy(spark, src, dstLocation, tvAt)
      if (ops.nonEmpty) {
        ctx.metastore.commit(dst, TableUpdate(
          user,
          UpdateMessage(s"deep clone (raw file copy) state of " +
            s"${src.name.fullyQualifiedName} @ ${at.id}"),
          Instant.now(), ops))
        ()
      }
    } else {
      // one distributed write of the resolved rows (DV-applied, overlay-
      // unioned, logically named). Declarations seed AFTER the write: a
      // pre-seeded identity column would reject the batch (GENERATED
      // ALWAYS refuses supplied ids) and a generated-column rule would
      // re-derive values the rows already carry.
      // The clone carries NO column mapping, so its files must hold the
      // CURRENT logical names (the names the clone registers and a
      // VERSION AS OF load of the source would declare) — a raw
      // physical-named copy of a renamed source would NULL-blank the
      // renamed column under the clone's declared schema.
      val rows = ColumnMapping.applyLogical(
        DeletionVectors.read(spark, log, src, Some(at)), spark, log, src, None)
      if (rows.columns.nonEmpty && !rows.isEmpty) {
        rows.versionedInsertInto(ctx, dstDefn, user, UpdateMessage(
          s"deep clone state of ${src.name.fullyQualifiedName} @ ${at.id}"))
      }
    }

    MetadataFiles.carry(spark, src, dstDefn)
    // identity: the carried declaration plus the source's high-water mark
    // AT the cloned state, riding a metadata commit exactly like
    // ShallowClone — a clone write stamping from 0 would collide with
    // carried ids
    IdentityColumns.declared(spark, src).foreach { c =>
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
    * own task. The clone reuses the SOURCE's version labels (labels are
    * mint-unique; dirs differ by table location), so the returned ops
    * register the copied dirs verbatim. */
  private def rawCopy(
      spark: SparkSession,
      src: TableDefinition,
      dstLocation: URI,
      tv: TableVersion): List[TableVersions.TableOperation] = {
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
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
      val fs = new HPath(s).getFileSystem(sconf.value)
      fs.listStatus(new HPath(s)).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => (s, d, st.getPath.getName))
    }.collect().toSeq
    if (files.nonEmpty) {
      val copySlices = math.max(1, math.min(files.size, sc.defaultParallelism))
      sc.parallelize(files, copySlices).foreachPartition { it =>
        // src and dst resolve their OWN FileSystems: a DEEP CLONE ...
        // LOCATION may land on a different scheme/authority than the
        // source (the resolved-rows tier always handled that)
        var srcFs: org.apache.hadoop.fs.FileSystem = null
        var dstFs: org.apache.hadoop.fs.FileSystem = null
        it.foreach { case (s, d, name) =>
          if (srcFs == null) srcFs = new HPath(s).getFileSystem(sconf.value)
          if (dstFs == null) dstFs = new HPath(d).getFileSystem(sconf.value)
          val dstDir = new HPath(d)
          dstFs.mkdirs(dstDir)
          if (!FileUtil.copy(
              srcFs, new HPath(new HPath(s), name),
              dstFs, new HPath(dstDir, name),
              false, true, sconf.value))
            sys.error(s"DEEP CLONE: failed to copy $s/$name to $d/$name")
        }
      }
    }
    ops
  }
}
