package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}

/**
 * COLUMN DEFAULT VALUES (the Delta / SQL-standard `ALTER TABLE … ALTER
 * COLUMN c SET DEFAULT expr`): a constant expression recorded in table
 * metadata and applied by the write pipeline when a batch OMITS the
 * column — the engine derives it instead of landing NULL. Three rules,
 * all Delta parity:
 *
 *  - defaults apply only to FUTURE writes: declaring one never rewrites
 *    (or re-interprets) existing rows — rows written before the column
 *    existed still surface NULL under additive schema evolution;
 *  - a batch that SUPPLIES the column keeps its values verbatim, NULLs
 *    included (a default fills absence, it never coerces values);
 *  - SQL `INSERT INTO t (a, b) …` column lists resolve through Spark's
 *    own default-column machinery: [[GraftV2Table]] decorates its schema
 *    with the `CURRENT_DEFAULT` field metadata, so the analyzer fills
 *    omitted columns and the `DEFAULT` keyword with the declared
 *    expression before the write plan ever reaches the engine.
 *
 * The expression must be foldable (a constant — `current_date()` style
 * functions fold at write time, which is exactly SQL's CURRENT DEFAULT
 * semantics per-batch). Defaults ride their metadata-only audit commit
 * ([[MetadataFiles.defaults]], the [[GeneratedColumns]] discipline:
 * resolved at the log head, so shallow clones own independent defaults;
 * one fold of the cached log per write).
 */
object ColumnDefaults {

  final case class ColumnDefault(column: String, expr: String)

  def list(
      spark: org.apache.spark.sql.SparkSession, log: TableVersions,
      table: TableDefinition): List[ColumnDefault] =
    MetadataFiles.defaults.current(spark, log, table)

  /** Declare (or replace) a column's default. The column must not be
    * GENERATED or IDENTITY (those own their fill rules), and the
    * expression must be a constant the column's writes can fold. Lands
    * as a metadata-only audit commit. */
  def set(
      spark: org.apache.spark.sql.SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      column: String,
      defaultExpr: String,
      user: UserId): Unit = {
    val log = ctx.metastore.tableVersions
    GeneratedColumns.list(spark, log, table).foreach(g =>
      require(!g.column.equalsIgnoreCase(column),
        s"column $column is GENERATED ALWAYS AS (${g.expr}) — it cannot also carry a DEFAULT"))
    IdentityColumns.declared(spark, log, table).foreach(c =>
      require(!c.equalsIgnoreCase(column),
        s"column $column is GENERATED ALWAYS AS IDENTITY — it cannot also carry a DEFAULT"))
    // the expression must analyze standalone and fold to a constant —
    // refuse a row-dependent default loudly at declaration time
    val parsed = spark.sessionState.sqlParser.parseExpression(defaultExpr)
    val analyzed = spark.range(1).select(expr(defaultExpr))
    analyzed.queryExecution.analyzed // force analysis
    require(!parsed.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute]),
      s"DEFAULT for $column must be a constant expression, got: $defaultExpr")
    MetadataFiles.defaults.commit(spark, ctx.metastore, table,
        UpdateMessage(s"ALTER TABLE ALTER COLUMN $column SET DEFAULT $defaultExpr"), user)(ds =>
      ds.filterNot(_.column.equalsIgnoreCase(column)) :+ ColumnDefault(column, defaultExpr))
    ()
  }

  /** Remove a column's default (future writes land NULL again when the
    * column is absent). A column with no default is a no-op commit-wise. */
  def drop(
      spark: org.apache.spark.sql.SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      column: String,
      user: UserId): Unit = {
    if (!list(spark, ctx.metastore.tableVersions, table)
        .exists(_.column.equalsIgnoreCase(column))) return
    MetadataFiles.defaults.commit(spark, ctx.metastore, table,
        UpdateMessage(s"ALTER TABLE ALTER COLUMN $column DROP DEFAULT"), user)(
      _.filterNot(_.column.equalsIgnoreCase(column)))
    ()
  }

  /** The write-path fill: compute ABSENT defaulted columns; supplied
    * columns pass through verbatim (NULLs included). Rides the shared
    * pre-write pipeline next to [[GeneratedColumns.applied]]. */
  def applied(df: DataFrame, log: TableVersions, table: TableDefinition): DataFrame = {
    val ds = list(df.sparkSession, log, table)
    if (ds.isEmpty) return df
    val names = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    ds.foldLeft(df) { (acc, d) =>
      if (names.contains(d.column.toLowerCase(java.util.Locale.ROOT))) acc
      else acc.withColumn(d.column, expr(d.expr))
    }
  }

  /** Decorate a table schema with Spark's `CURRENT_DEFAULT` field
    * metadata so SQL `INSERT INTO t (cols…)` and the `DEFAULT` keyword
    * resolve through the analyzer's own default-column machinery.
    * `EXISTS_DEFAULT` is deliberately NOT set: existing rows keep
    * surfacing NULL — defaults never rewrite (or re-read) history. */
  private[spark] def decorate(
      spark: org.apache.spark.sql.SparkSession,
      log: TableVersions,
      table: TableDefinition,
      schema: StructType): StructType = {
    val ds = list(spark, log, table)
    if (ds.isEmpty) return schema
    val byName = ds.map(d => d.column.toLowerCase(java.util.Locale.ROOT) -> d.expr).toMap
    StructType(schema.map { f =>
      byName.get(f.name.toLowerCase(java.util.Locale.ROOT)) match {
        case None => f
        case Some(e) =>
          f.copy(metadata = withKey(f.metadata, "CURRENT_DEFAULT", e))
      }
    })
  }

  private def withKey(m: Metadata, k: String, v: String): Metadata =
    new MetadataBuilder().withMetadata(m).putString(k, v).build()
}
