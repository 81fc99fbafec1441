package graft.spark

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.core.TableVersions.CommitId

/**
 * THE VERSIONED SCAN: the one DataFrame read of a table state. Every read
 * surface ([[VersionedReader]], [[DeletionVectors.read]],
 * [[ColumnMapping.read]], the change feed, zone-map pruning, the SQL scan
 * rule's replacement subtree) is a call into [[apply]] with its own
 * choice of vectors, pointers and names; nothing else builds a scan of a
 * state's files.
 *
 * Everything resolves from the fold of the cached log:
 *  - the sources are the state's version dirs (one per partition) and the
 *    live overlay leaves ([[RowOverlay.contributions]]), optionally
 *    narrowed to a partition set, an explicit dir map or a file list;
 *  - sources group by (partition signature, data schema): version dirs
 *    under the state's [[DataSchema]] record, overlay leaves under the
 *    record at their anchor. Each group is ONE `HadoopFsRelation` over one
 *    [[ListingCache]] index of all its dirs, its partition values given by
 *    the fold (a user `PartitionSpec`, string-typed), never discovered
 *    from paths. A mixed-era fold, or a state with no record, reads each
 *    era's version dirs apart and infers their columns from footers;
 *  - type widening in force at the state is the requested scan type (the
 *    columnar readers upcast old narrow files);
 *  - groups union by name (a column missing from a group reads NULL);
 *  - the `(file, pos)` pointers ride each relation only when the caller
 *    asks for them or a vector is live, and the anti-join runs only then;
 *  - the logical names apply last.
 *
 * A never-written state reads as the schema-less empty frame; a selection
 * that leaves no version dir of a written state keeps the state's columns
 * through a zero-row leg, except an overlay-rows-only scan ([[NoDirs]])
 * that has overlay leaves.
 */
private[spark] object VersionedScan {

  /** The pointer columns of a pointed scan: the row's file and position. */
  val FileCol = "__vs_file"
  val PosCol = "__vs_pos"

  /** A `dirs` selection that scans no version dir (overlay rows only). */
  val NoDirs: TableVersion = PartitionedTableVersion(Map.empty)

  /** Which deletion vectors apply. */
  sealed trait Vectors
  object Vectors {
    /** The files as written: no vector applies. */
    case object Raw extends Vectors
    /** The vectors live at the scanned state hide their rows. */
    case object Live extends Vectors
    /** Only the rows these `(file, pos)` pairs name. */
    final case class Only(pairs: DataFrame) extends Vectors
  }

  /** Which column names the scan speaks. */
  sealed trait Names
  object Names {
    /** The in-file names. */
    case object Physical extends Names
    /** The mapping in force at the scanned state. */
    case object AtState extends Names
    /** The mapping in force at the head. */
    case object AtHead extends Names
  }

  /** One listed source: the dir that fixes its partition values (a
    * version dir or overlay leaf) and the paths to list under it. */
  private final case class Source(partition: Option[Partition], dir: String, roots: Seq[String])

  /** The state at `at` (None: the head).
    *
    * @param partitions only these partitions' version dirs and overlay leaves
    * @param dirs       version dirs to scan instead of the state's (an empty
    *                   or unversioned one scans none)
    * @param overlays   overlay contributions instead of the live ones
    * @param files      the version dirs' files to scan instead of every file
    *                   (one partition era)
    * @param pointers   keep [[FileCol]]/[[PosCol]] on the result */
  def apply(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId] = None,
      partitions: Option[Set[Partition]] = None,
      dirs: Option[TableVersion] = None,
      overlays: Option[List[RowOverlay.Contribution]] = None,
      files: Option[Seq[String]] = None,
      vectors: Vectors = Vectors.Live,
      pointers: Boolean = false,
      names: Names = Names.Physical,
      mergeSchema: Boolean = false): DataFrame = {
    val state = at.map(log.versionAt(table.name, _)).getOrElse(log.currentVersion(table.name))
    val stateDirs = versionSources(table, state)
    if (stateDirs.isEmpty) return spark.emptyDataFrame
    def wanted(p: Option[Partition]) = partitions.forall(w => p.forall(w.contains))
    val chosenDirs = dirs.fold(stateDirs)(versionSources(table, _)).filter(s => wanted(s.partition))
    val versionLegs = files match {
      case None                   => chosenDirs
      case Some(fs) if fs.isEmpty => Nil
      // the files list under the first dir's source; every chosen dir
      // stays in the partition spec
      case Some(fs) => chosenDirs.map(_.copy(roots = Nil)) match {
        case head :: rest => head.copy(roots = fs) :: rest
        case Nil          => Nil
      }
    }
    val overlayLegs = overlays.getOrElse(RowOverlay.contributions(spark, log, table, at))
      .map(c => c.copy(leaves = c.leaves.filter { case (p, _) => wanted(p) }))
      .filter(_.leaves.nonEmpty)
    val pairs = vectors match {
      case Vectors.Raw     => None
      case Vectors.Live =>
        DeletionVectors.resolvePairs(spark, log, table, at).map((_, "left_anti"))
      case Vectors.Only(p) => Some((p, "left_semi"))
    }
    val pointed = pointers || pairs.isDefined

    val legs = groups(spark, log, table, at, versionLegs, overlayLegs, mergeSchema)
    val widened = ColumnMapping.widenedTypesAt(spark, log, table, at)
    val scans = legs.map { case (sig, schema, sources) =>
      relation(spark, table, sig, schema, sources, widened, mergeSchema, pointed)
    }
    // no version dir chosen: a zero-row leg keeps the state's columns,
    // unless the caller asked for overlay rows only
    val keepColumns =
      if (versionLegs.nonEmpty || (dirs.contains(NoDirs) && scans.nonEmpty)) Nil
      else List(apply(
        spark, log, table, at, overlays = Some(Nil), vectors = Vectors.Raw,
        pointers = pointed, mergeSchema = mergeSchema).limit(0))
    val scanned = (keepColumns ++ scans).reduce(_.unionByName(_, allowMissingColumns = true))

    val visible = pairs.fold(scanned) { case (p, how) =>
      scanned.join(p, scanned(FileCol) === p("file") && scanned(PosCol) === p("pos"), how)
    }
    val out = if (pointed && !pointers) visible.drop(FileCol, PosCol) else visible
    names match {
      case Names.Physical => out
      case Names.AtState  => ColumnMapping.applyLogical(out, spark, log, table, at)
      case Names.AtHead   => ColumnMapping.applyLogical(out, spark, log, table, None)
    }
  }

  /** The version dirs of `tv`, one source each. */
  private def versionSources(table: TableDefinition, tv: TableVersion): List[Source] = tv match {
    case SnapshotTableVersion(v) if v == Version.Unversioned => Nil
    case SnapshotTableVersion(v) =>
      val dir = VersionPaths.pathFor(table.location, v).toString
      List(Source(None, dir, Seq(dir)))
    case PartitionedTableVersion(pvs) =>
      pvs.toList.map { case (p, v) =>
        val dir = SparkPaths.dirFor(table.location, p, v)
        Source(Some(p), dir, Seq(dir))
      }.sortBy(_.dir)
  }

  /** The scan's relations as (partition signature, data schema, sources).
    * Version dirs of one era share the state's record, and overlay leaves
    * whose anchor record equals it join them. Without a record (a mixed
    * fold, a `mergeSchema` read, an earlier log) footers type each era,
    * and each overlay dir, apart. The current scheme's era leads so the
    * result keeps the table's column order. */
  private def groups(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId],
      versionLegs: List[Source],
      overlayLegs: List[RowOverlay.Contribution],
      mergeSchema: Boolean): List[(Seq[String], Option[StructType], Seq[Source])] = {
    def sigOf(p: Option[Partition]) = p.fold(Seq.empty[String])(_.columnValues.map(_.column.name))
    val currentSig = table.partitionSchema.columns.map(_.name)
    val eras = versionLegs.groupBy(s => sigOf(s.partition)).toList
      .sortBy { case (sig, _) => (if (sig == currentSig) 0 else 1, sig.mkString(",")) }
    lazy val record = if (mergeSchema) None else DataSchema.at(spark, log, table, at)
    type Key = (Seq[String], Either[String, StructType])
    val legs = scala.collection.mutable.LinkedHashMap[Key, Seq[Source]]()
    def add(key: Key, s: Source): Unit =
      legs(key) = legs.getOrElse(key, Vector.empty) :+ s
    eras.foreach { case (sig, sources) =>
      val schema = (if (eras.sizeIs == 1) record else None).toRight("dirs")
      sources.foreach(add((sig, schema), _))
    }
    overlayLegs.foreach { c =>
      val schema = DataSchema.at(spark, log, table, Some(c.anchor)).toRight(c.anchor.id)
      c.leaves.foreach { case (p, leaf) => add((sigOf(p), schema), Source(p, leaf, Seq(leaf))) }
    }
    legs.toList.map { case ((sig, schema), sources) => (sig, schema.toOption, sources) }
  }

  /** One `HadoopFsRelation` over `sources`, partition values from the
    * fold, with the pointer columns when `pointed`. */
  private def relation(
      spark: SparkSession,
      table: TableDefinition,
      sig: Seq[String],
      schema: Option[StructType],
      sources: Seq[Source],
      widened: Map[String, org.apache.spark.sql.types.DataType],
      mergeSchema: Boolean,
      pointed: Boolean): DataFrame = {
    val fs = FileSystem.get(table.location, spark.sessionState.newHadoopConf())
    val spec = PartitionSpec(
      StructType(sig.map(StructField(_, StringType))),
      sources.flatMap(s => s.partition.map { p =>
        PartitionPath(
          InternalRow.fromSeq(p.columnValues.map(cv => UTF8String.fromString(cv.value))),
          fs.makeQualified(new HPath(s.dir)))
      }))
    val options = if (mergeSchema) Map("mergeSchema" -> "true") else Map.empty[String, String]
    val index = ListingCache.fileIndex(spark, sources.flatMap(_.roots), options, None, Some(spec))
    // the catalog's format mapping (GraftTableCatalog.buildFileTable)
    val format = if (table.format == FileFormat.Orc) new OrcFileFormat else new ParquetFileFormat
    val data = schema
      .orElse(if (widened.isEmpty) None else format.inferSchema(spark, options, index.allFiles()))
      .map(ColumnMapping.applyWideningToSchema(_, widened))
    val df = spark.baseRelationToDataFrame(
      org.apache.spark.sql.GraftSqlShim.fileRelation(spark, index, format, options, data))
    if (!pointed) df
    else df.select(
      col("*"),
      col("_metadata.file_path").as(FileCol),
      col("_metadata.row_index").as(PosCol))
  }
}
