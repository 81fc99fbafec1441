package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression conversion (the standard
  * package-placement idiom for Spark extension libraries). */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Hive path-name escaping, exactly as Spark's `partitionBy` writes
    * partition directories (`ExternalCatalogUtils.escapePathName`). */
  def escapePathName(part: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(part)

  def unescapePathName(path: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(path)

  /** `private[sql]` Dataset.ofRows — execute a resolved LogicalPlan as a
    * DataFrame (used by the MERGE INTO command). */
  def ofRows(
      session: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `private[spark]` StructType.asNullable: every field, element and
    * value nullable at any depth — what a file relation serves. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** The existence check and globbing every stock file read runs on its
    * paths (`DataSource.checkAndGlobPathIfNecessary`, files must exist). */
  def checkedPaths(
      paths: Seq[String],
      hadoopConf: org.apache.hadoop.conf.Configuration): Seq[org.apache.hadoop.fs.Path] =
    org.apache.spark.sql.execution.datasources.DataSource.checkAndGlobPathIfNecessary(
      paths, hadoopConf, checkEmptyGlobPath = true, checkFilesExist = true,
      enableGlobbing = true)

  /** The `HadoopFsRelation` `DataSource.resolveRelation` builds for a
    * batch file read over `index`: partition columns from the index, data
    * columns from `schema` minus those, else inferred from the index's
    * files, plus the stock read-side schema checks. */
  def fileRelation(
      session: SparkSession,
      index: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex,
      format: org.apache.spark.sql.execution.datasources.FileFormat,
      options: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    import org.apache.spark.sql.util.SchemaUtils
    val opts = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(options)
    val equality = session.sessionState.conf.resolver
    val partitionSchema = index.partitionSchema
    val dataSchema = schema
      .map(s => org.apache.spark.sql.types.StructType(
        s.filterNot(f => partitionSchema.exists(p => equality(p.name, f.name)))))
      .orElse(format.inferSchema(session, opts, index.allFiles()))
      .getOrElse(throw org.apache.spark.sql.errors.QueryCompilationErrors
        .dataSchemaNotSpecifiedError(format.toString))
    SchemaUtils.checkSchemaColumnNameDuplication(dataSchema, equality)
    SchemaUtils.checkSchemaColumnNameDuplication(partitionSchema, equality)
    org.apache.spark.sql.execution.datasources.DataSourceUtils
      .verifySchema(format, dataSchema, true)
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, partitionSchema, dataSchema.asNullable, None, format, opts)(session)
  }
}
