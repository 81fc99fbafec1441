package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}

/**
 * COLUMN COMMENTS (the Delta/Iceberg `ALTER TABLE … ALTER COLUMN c
 * COMMENT '…'` and CREATE-time `c INT COMMENT '…'`): free-text column
 * documentation recorded in table metadata — durable, audited, carried
 * by clones, emitted by SHOW CREATE TABLE so the DDL script round-trips
 * documentation along with structure. Purely descriptive: no read or
 * write behavior changes.
 *
 * Comments ride their metadata-only audit commit — CREATE-time ones the
 * init commit ([[MetadataFiles.comments]], the [[ColumnDefaults]]
 * discipline: resolved at the log head, so shallow clones own
 * independent sets).
 * Keys are dotted field paths, so nested-field comments
 * (`ALTER COLUMN meta.lang COMMENT '…'`) store naturally; only
 * top-level comments decorate the served schema (DESCRIBE) and the
 * SHOW CREATE column list. The TABLE comment stays a TBLPROPERTY
 * (`comment`), the Delta convention — SHOW CREATE's TBLPROPERTIES
 * block already replays it.
 */
object Comments {

  /** Dotted field path → comment (empty when none declared). One fold
    * of the cached log ([[MetadataFiles.comments]]). */
  def list(spark: SparkSession, log: TableVersions, table: TableDefinition): Map[String, String] =
    MetadataFiles.comments.current(spark, log, table)

  /** CREATE-time comments, as the init commit's entry. */
  private[spark] def seed(all: Map[String, String]): Map[String, String] =
    if (all.isEmpty) Map.empty else MetadataFiles.comments.entry(all)

  /** Set (or clear, `comment = None`) one field path's comment — a
    * metadata-only audit commit, like every other declaration change. */
  def set(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      path: String,
      comment: Option[String],
      user: UserId): Unit = {
    MetadataFiles.comments.commit(spark, ctx.metastore, table,
        UpdateMessage(comment match {
          case Some(c) => s"ALTER COLUMN $path COMMENT '$c'"
          case None    => s"ALTER COLUMN $path UNSET COMMENT"
        }), user)(existing => comment match {
      case Some(c) => existing + (path -> c)
      case None    => existing - path
    })
    ()
  }

  /** Attach declared top-level comments to the served schema so DESCRIBE
    * and catalog introspection show them (one fold of the cached log —
    * the [[ColumnDefaults.decorate]] cost class). */
  def decorate(
      spark: SparkSession, log: TableVersions, table: TableDefinition,
      schema: StructType): StructType = {
    val all = list(spark, log, table)
    if (all.isEmpty) schema
    else StructType(schema.fields.map { f =>
      all.get(f.name).orElse(
        all.find(_._1.equalsIgnoreCase(f.name)).map(_._2)) match {
        case Some(c) => f.withComment(c)
        case None    => f
      }
    })
  }
}
