package graft.spark

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.Resolver
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.core._
import graft.core.TableVersions.{CommitId, TableOperation}

/**
 * THE DATA SCHEMA RECORD: the data columns of a state's files (partition
 * columns excluded — their types come from the dir paths — every field
 * nullable), carried on the commit line ([[MetadataFiles.schema]], Delta's
 * `metaData.schemaString`) and resolved at the commit a read addresses, so
 * no read runs the footer-inference Spark job. Only a data write the
 * record does not describe carries an entry ([[written]]), derived inside
 * each commit attempt against the state that attempt lands on;
 * metadata-only DDL leaves files and record as they were (column mapping,
 * widening and [[SchemaStates]] apply on top); RESTORE and rollback move
 * the pointer and the fold follows; a clone carries the record
 * ([[carried]]) and a checkpoint keeps it. A log without one (an earlier
 * version's table, adopted files) infers from footers; its first write
 * that replaces every live file starts one.
 */
object DataSchema {

  private val json = new ObjectMapper()

  /** The record in force at `at` (None: the current pointer). */
  def at(
      spark: SparkSession, log: TableVersions, table: TableDefinition,
      at: Option[CommitId]): Option[StructType] =
    MetadataFiles.schema.fold(spark, log, table, at).inForce.map(parse)

  /** The entry a commit of `ops` writing `data` (partition columns
    * included) carries when it lands on the table's state NOW — evaluate
    * it inside each commit attempt, before that attempt's CAS: a write
    * that replaces every live file (a snapshot version, a partitioned
    * write covering every live partition) or starts a new partition era
    * records exactly its own columns; any other write grows the record
    * by its new columns and widened types (never narrowing, names
    * matched as the session resolves them). None when the record already
    * describes the result. No job. */
  private[spark] def written(
      spark: SparkSession, log: TableVersions, table: TableDefinition,
      data: StructType, ops: List[TableOperation]): Map[String, String] = {
    val resolver = spark.sessionState.conf.resolver
    val partCols = table.partitionSchema.columns.map(_.name)
    val files = org.apache.spark.sql.GraftSqlShim.asNullable(
      StructType(data.filterNot(f => partCols.exists(resolver(_, f.name)))))
    // the commit appends after every published commit — after a rollback
    // it resurrects the ones past the pointer — so it folds through them
    val tip = log.updates(table.name).find(!_.detached).map(_.id)
    val record = DataSchema.at(spark, log, table, tip)
    val state = tip.fold(log.currentVersion(table.name))(log.versionAt(table.name, _))
    val added: Set[Version] = ops.collect {
      case TableOperation.AddTableVersion(v)        => v
      case TableOperation.AddPartitionVersion(_, v) => v
    }.toSet
    val replaces = added.nonEmpty && (state match {
      case _: SnapshotTableVersion => true
      case PartitionedTableVersion(pvs) =>
        ops.foldLeft(pvs) {
          case (m, TableOperation.AddPartitionVersion(p, v)) => m.updated(p, v)
          case (m, TableOperation.RemovePartition(p))        => m - p
          case (m, _)                                        => m
        }.values.forall(added)
    })
    val next = record match {
      case _ if replaces => Some(files)
      case None          => if (holdsFiles(state)) None else Some(files)
      // the dirs of an older partition era are read apart
      case Some(_) if !table.isSnapshot &&
          !PartitionEvolution.eraSignatures(state).forall(_ == partCols) => Some(files)
      case Some(r) => Some(merge(r, files, resolver).asInstanceOf[StructType])
    }
    // a new snapshot version carries its columns whatever it lands on
    next.filter(n => (replaces && table.isSnapshot) || !record.contains(n))
      .fold(Map.empty[String, String])(entry)
  }

  /** The cloned state's record, for the clone's state commit. */
  private[spark] def carried(
      spark: SparkSession, log: TableVersions, src: TableDefinition,
      at: CommitId): Map[String, String] =
    DataSchema.at(spark, log, src, Some(at)).fold(Map.empty[String, String])(entry)

  /** `a` grown by `b`: fields matched by name under `resolver` keep `a`'s
    * name, position and metadata and take `b`'s type only where it is a
    * lossless widening the columnar readers upcast (the ALTER COLUMN TYPE
    * matrix; structs, arrays and maps merge field by field); `b`'s other
    * fields append. */
  private def merge(a: DataType, b: DataType, resolver: Resolver): DataType = (a, b) match {
    case (x: StructType, y: StructType) =>
      StructType(
        x.map(f => y.find(g => resolver(f.name, g.name))
          .fold(f)(g => f.copy(dataType = merge(f.dataType, g.dataType, resolver)))) ++
          y.filterNot(g => x.exists(f => resolver(f.name, g.name))))
    case (ArrayType(x, n), ArrayType(y, m)) => ArrayType(merge(x, y, resolver), n || m)
    case (MapType(k, v, n), MapType(l, w, m)) =>
      MapType(merge(k, l, resolver), merge(v, w, resolver), n || m)
    case _ => if (ColumnMapping.WideningAllowed(a.catalogString -> b.catalogString)) b else a
  }

  private def entry(s: StructType): Map[String, String] =
    MetadataFiles.schema.entry(json.readTree(s.json))

  private def parse(node: JsonNode): StructType =
    DataType.fromJson(node.toString).asInstanceOf[StructType]

  private def holdsFiles(tv: TableVersion): Boolean = tv match {
    case SnapshotTableVersion(v)      => v != Version.Unversioned
    case PartitionedTableVersion(pvs) => pvs.nonEmpty
  }
}
