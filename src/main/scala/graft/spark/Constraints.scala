package graft.spark

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, raise_error, when}

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}

/**
 * WRITE-PATH CONSTRAINTS (NOT NULL / CHECK) — the Delta `ALTER TABLE ADD
 * CONSTRAINT` parity surface: invariants recorded in table metadata and
 * enforced on EVERY versioned write (Scala `versionedInsertInto`, SQL
 * INSERT/CTAS, MERGE/UPDATE rewrites, streaming sinks — everything
 * funnels through [[VersionContext]]'s two writers, where [[enforced]]
 * is applied), rejecting violations loudly BEFORE the commit publishes.
 *
 * Mechanics:
 *  - constraints ride the metadata-only audit commit that adds or drops
 *    them ([[MetadataFiles.constraints]], resolved at the log head, so a
 *    shallow clone owns an independent set);
 *  - enforcement costs ZERO extra scans: the check rides the write's own
 *    pass as a filter whose predicate calls `raise_error` on the first
 *    violating row (`CHECK` semantics are SQL-standard: NULL/unknown
 *    passes, only definitive FALSE rejects; `NOT NULL` rejects nulls);
 *  - `add` validates EXISTING rows first (one scan of the current
 *    DV-applied state) so a constraint can never be born already violated
 *    — the Delta contract.
 *
 * A failed write leaves only never-referenced staging dirs (the engine's
 * orphan-on-failure posture); no commit, no partial state.
 */
object Constraints {

  /** `kind` ∈ {"notnull", "check"}; for notnull `expr` is the column name,
    * for check a boolean SQL expression over the table's columns. */
  final case class Constraint(name: String, kind: String, expr: String) {
    require(kind == "notnull" || kind == "check", s"unknown constraint kind: $kind")
  }

  def notNull(column: String): Constraint = Constraint(s"${column}_not_null", "notnull", column)
  def check(name: String, sqlExpr: String): Constraint = Constraint(name, "check", sqlExpr)

  /** The table's recorded constraints (empty when none were ever added).
    * One fold of the cached log ([[MetadataFiles.constraints]]). */
  def list(spark: SparkSession, log: TableVersions, table: TableDefinition): List[Constraint] =
    MetadataFiles.constraints.current(spark, log, table)

  /** Violation predicate (true = row violates `c`). */
  private def violation(c: Constraint): Column = c.kind match {
    case "notnull" => col(c.expr).isNull
    // SQL-standard CHECK: NULL/unknown passes, only definitive FALSE fails
    case _ => !coalesce(expr(c.expr), lit(true))
  }

  /** Add a constraint: existing rows are validated first (one scan of the
    * DV-applied current state — a constraint must not be born violated),
    * then the new set lands on a metadata-only audit commit. */
  def add(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      c: Constraint,
      user: UserId): Unit = {
    val added: List[Constraint] => List[Constraint] = cs => {
      require(!cs.exists(_.name == c.name),
        s"constraint ${c.name} already exists on ${table.name.fullyQualifiedName}")
      cs :+ c
    }
    val log = ctx.metastore.tableVersions
    added(list(spark, log, table)) // refuse a duplicate before the scan
    val current = DeletionVectors.read(spark, log, table)
    if (current.columns.nonEmpty) {
      val violating = current.where(violation(c)).count()
      require(violating == 0L,
        s"cannot add constraint ${c.name} to ${table.name.fullyQualifiedName}: " +
          s"$violating existing row(s) violate ${c.kind} (${c.expr})")
    }
    MetadataFiles.constraints.commit(spark, ctx.metastore, table,
      UpdateMessage(s"ADD CONSTRAINT ${c.name} ${c.kind} (${c.expr})"), user)(added)
    ()
  }

  /** Drop a constraint by name (a no-op drop refuses — silent typo-drops
    * would leave the caller believing enforcement stopped). */
  def drop(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      name: String,
      user: UserId): Unit = {
    MetadataFiles.constraints.commit(spark, ctx.metastore, table,
        UpdateMessage(s"DROP CONSTRAINT $name"), user) { cs =>
      require(cs.exists(_.name == name),
        s"no constraint named $name on ${table.name.fullyQualifiedName}")
      cs.filterNot(_.name == name)
    }
    ()
  }

  /** The write-side gate: wraps a dataset about to become a new version so
    * its own write pass rejects the first violating row via `raise_error`
    * — zero extra scans, codegen-friendly, and the staged dirs of a failed
    * write stay invisible. Identity when the table has no constraints (one
    * fold of the cached log); an unreadable constraints value fails the
    * write rather than skipping its checks. */
  def enforced[T](ds: Dataset[T], log: TableVersions, table: TableDefinition): Dataset[T] = {
    val cs = list(ds.sparkSession, log, table)
    if (cs.isEmpty) return ds
    val names = ds.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val applicable = cs.filter {
      // a NOT NULL column the batch doesn't carry surfaces as a violation
      // loudly rather than a silent skip
      case Constraint(n, "notnull", c) =>
        require(names.contains(c.toLowerCase(java.util.Locale.ROOT)),
          s"write to ${table.name.fullyQualifiedName} omits NOT NULL column $c (constraint $n)")
        true
      case _ => true
    }
    val gate = applicable
      .map { c =>
        coalesce(
          when(violation(c), raise_error(lit(
            s"CONSTRAINT ${c.name} violated on write to " +
              s"${table.name.fullyQualifiedName}: ${c.kind} (${c.expr})"))),
          lit(true))
      }
      .reduce(_ && _)
    ds.filter(gate)
  }
}
