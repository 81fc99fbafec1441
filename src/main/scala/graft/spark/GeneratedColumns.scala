package graft.spark

import com.fasterxml.jackson.annotation.JsonProperty

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, raise_error, when}

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}

/**
 * GENERATED COLUMNS (the Delta `GENERATED ALWAYS AS (expr)` feature):
 * a column declared as a deterministic expression of the row's other
 * columns, recorded in table metadata and enforced on EVERY versioned
 * write through the shared pre-write pipeline (next to [[Constraints]]):
 *
 *  - a batch that OMITS the column gets it computed in place (the common
 *    case — writers supply the base columns, the engine derives the rest);
 *  - a batch that SUPPLIES the column is validated row-by-row
 *    (`raise_error` riding the write's own pass, zero extra scans): a
 *    value disagreeing with the expression rejects the write pre-commit.
 *
 * The headline use is DERIVED PARTITION COLUMNS: partition by
 * `ship_month GENERATED ALWAYS AS (substring(ship_ts, 1, 7))` and every
 * writer that never heard of the partitioning scheme still lands rows in
 * the right partitions — and partition pruning on the generated column
 * works unchanged (it IS an ordinary partition column at rest).
 *
 * Rules live in [[MetadataFiles.generated]] (the [[Constraints]]
 * pattern: name-keyed, one driver-side read per write, audited as a
 * metadata-only commit).
 */
object GeneratedColumns {

  /** `column GENERATED ALWAYS AS (expr)` — `expr` is SQL text over the
    * table's other columns; it must be deterministic. `zone` records the
    * SESSION TIMEZONE in force when the rule was declared: zone-sensitive
    * generations (any function of a `TIMESTAMP` base interprets the value
    * in the session zone) materialize different partition values under
    * different zones, so [[GraftGeneratedPruningRule]] refuses to derive
    * pruning bounds when the reader's zone disagrees with the recorded
    * write-side zone (or when none was recorded — pre-zone metadata). */
  /** `tpe`: the DECLARED SQL type when the rule arrived with one (the
    * `ADD COLUMN c <type> GENERATED ALWAYS AS (...)` spelling) — SHOW
    * CREATE TABLE re-emits it; absent for rules declared through the
    * Scala API (the column's type then lives in the data files). */
  final case class GeneratedColumn(
      column: String, expr: String, zone: Option[String] = None,
      @JsonProperty("type") tpe: Option[String] = None)

  def list(spark: org.apache.spark.sql.SparkSession, table: TableDefinition): List[GeneratedColumn] =
    MetadataFiles.generated.read(spark, table)

  /** Declare a generated column. Must be declared before the first write
    * that carries or needs it (a generation rule is never born violated:
    * if the table already has data, existing rows are validated first —
    * one scan of the DV-applied current state). The declaration lands as
    * a metadata-only audit commit. */
  def add(
      spark: org.apache.spark.sql.SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      g: GeneratedColumn,
      user: UserId): Unit = {
    // stamp the declaring session's zone — the zone every subsequent write
    // derives the column under (writes run in this engine's sessions, which
    // pin one zone); readers in a DIFFERENT zone must not derive pruning
    val stamped = g.copy(zone = Some(spark.sessionState.conf.sessionLocalTimeZone))
    val added: List[GeneratedColumn] => List[GeneratedColumn] = gs => {
      require(!gs.exists(_.column.equalsIgnoreCase(g.column)),
        s"column ${g.column} already has a generation rule on ${table.name.fullyQualifiedName}")
      gs :+ stamped
    }
    added(list(spark, table)) // refuse a duplicate before the scan
    val log = ctx.metastore.tableVersions
    val current = DeletionVectors.read(spark, log, table)
    if (current.columns.nonEmpty) {
      // determinism is decidable once the expression resolves against the
      // table's real schema (an unresolved rand() reports deterministic)
      val resolved = current.select(expr(g.expr).as("__gen"))
        .queryExecution.analyzed.expressions
      require(resolved.forall(_.deterministic),
        s"generation expression must be deterministic: ${g.expr}")
      if (current.columns.map(_.toLowerCase).contains(g.column.toLowerCase)) {
        // a generation rule is never born violated
        val bad = current.where(!(col(g.column) <=> expr(g.expr))).count()
        require(bad == 0L,
          s"cannot declare ${g.column} GENERATED ALWAYS AS (${g.expr}): " +
            s"$bad existing rows disagree")
      }
    }
    MetadataFiles.generated.update(spark, table)(added)
    log.commit(table.name, TableVersions.TableUpdate(
      user, UpdateMessage(s"ALTER TABLE ADD GENERATED COLUMN ${g.column} AS (${g.expr})"),
      java.time.Instant.now(), Nil))
  }

  /** SQL-originated writes arrive with the analyzer's NULL fill for
    * columns the statement OMITTED (a column-list INSERT, a MERGE INSERT
    * clause) — a NULL slot there means "omitted", so the gate derives it
    * (the Delta fill contract). The Scala API supplies exactly what the
    * caller built: an explicit NULL disagreeing with a non-null rule is a
    * violation and raises (the strict GENERATED ALWAYS contract). The two
    * are indistinguishable from the batch alone, so SQL entry points
    * declare themselves by wrapping their write in this scope. */
  private val sqlNullFill: ThreadLocal[Boolean] =
    ThreadLocal.withInitial(() => false)
  private[spark] def withSqlNullFill[A](f: => A): A = {
    val prev = sqlNullFill.get(); sqlNullFill.set(true)
    try f finally sqlNullFill.set(prev)
  }

  /** The write-path gate: compute absent generated columns and validate
    * supplied values (a disagreement raises inside the write job,
    * pre-commit). Inside [[withSqlNullFill]] — SQL-originated writes —
    * NULL slots read as "omitted" and DERIVE; outside it (the Scala API)
    * the null-safe equality is strict, so an explicit NULL against a
    * non-null rule raises. The plan shape is fixed here on the driver,
    * inside the entry point's dynamic scope — lazy execution later does
    * not re-read the flag. */
  def applied(df: DataFrame, table: TableDefinition): DataFrame = {
    val gs = list(df.sparkSession, table)
    if (gs.isEmpty) return df
    val fillNulls = sqlNullFill.get()
    val names = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    gs.foldLeft(df) { (acc, g) =>
      if (!names.contains(g.column.toLowerCase(java.util.Locale.ROOT)))
        acc.withColumn(g.column, expr(g.expr))
      else {
        val disagrees =
          if (fillNulls) col(g.column).isNotNull && !(col(g.column) <=> expr(g.expr))
          else !(col(g.column) <=> expr(g.expr))
        val checked = acc.filter(coalesce(
          when(disagrees,
            raise_error(lit(
              s"GENERATED column ${g.column} violated on write to " +
                s"${table.name.fullyQualifiedName}: expected ${g.expr}"))),
          lit(true)))
        if (fillNulls)
          checked.withColumn(g.column, coalesce(col(g.column), expr(g.expr)))
        else checked
      }
    }
  }
}
