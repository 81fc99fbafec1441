package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}

import graft.core.TableVersions.CommitId

/**
 * SQL table-valued-function spelling of the ROW-LEVEL change feed — the
 * Delta-parity `table_changes` surface:
 *
 * {{{
 *   SELECT * FROM table_changes('graft.db.t', '<fromCommit>', '<toCommit>')
 *   SELECT * FROM table_changes('graft.db.t',
 *     TIMESTAMP '2026-01-01 00:00:00', TIMESTAMP '2026-02-01 00:00:00')
 * }}}
 *
 * The result carries every table column plus `_change_type`
 * (`insert`/`delete`, [[ChangeFeed]]) — so the feed expresses
 * deletion-vector deletes (a partition-granular new-contents diff cannot:
 * no pointer moves) and replays to the exact `to` state. Timestamp
 * endpoints resolve to commits by the same at-or-before rule as
 * `TIMESTAMP AS OF` time travel ([[VersionedReader.readAsOfTimestamp]]):
 * each instant names the last commit at or before it, and the feed covers
 * the changes between those two table STATES — so `(ts1, ts2)` reads
 * exactly what a reader at ts1 was missing relative to ts2.
 *
 * Registered through `SparkSessionExtensions.injectTableFunction` (the
 * same registry Spark's own `range` TVF lives in), so the stock analyzer
 * resolves the call; the builder rewrites it into the analyzed plan of
 * `ChangeFeed.read(from, to)` — a metadata-only commit-log diff plus a
 * sidecar diff, with only moved/affected partitions' files reaching the
 * scan — and the surrounding query (joins, aggregates, filters) composes
 * over it like any relation.
 */
object GraftTableChanges {

  /** `(identifier, info, builder)` for `injectTableFunction`. */
  val tableFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("table_changes"),
    new ExpressionInfo(GraftTableChanges.getClass.getName, "table_changes"),
    (args: Seq[Expression]) => build(args))

  private def build(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(Literal(t, StringType), Literal(from, StringType), Literal(to, StringType)) =>
      // resolution time, not parse time: the active session carries the
      // catalog bindings the name resolves against
      val spark = SparkSession.active
      val (binding, defn) =
        GraftMaintenanceSql.resolve(spark, String.valueOf(t).split("\\.").toSeq)
      // a ROW-TRACKED table knows its own identity: the key-less form
      // serves the full CDF vocabulary paired on the engine's stamped id
      // (the feed then carries the id column — the pairing witness).
      // Gated on the engine's OWN `_graft_row_id`, i.e. an explicit
      // `SET ROW TRACKING` opt-in: a user-declared identity column must
      // NOT flip this TVF's output schema/vocabulary (pre-existing
      // identity tables keep the plain insert/delete feed — and only the
      // id-preserving write paths actually carry ids across rewrites)
      val feed =
        if (RowTracking.engineTracked(spark, binding.log, defn))
          ChangeFeed.readTracked(spark, binding.log, defn,
            Some(CommitId(String.valueOf(from))), CommitId(String.valueOf(to)))
        else
          ChangeFeed.read(spark, binding.log, defn,
            Some(CommitId(String.valueOf(from))), CommitId(String.valueOf(to)))
      feed.queryExecution.analyzed
    // 4-arg form: a comma-separated ROW-IDENTITY declaration upgrades the
    // feed to the full CDF vocabulary (update_pre/postimage pairing +
    // rewrite-no-op suppression — ChangeFeed.readKeyed)
    case Seq(Literal(t, StringType), Literal(from, StringType), Literal(to, StringType),
        Literal(keys, StringType)) =>
      val spark = SparkSession.active
      val (binding, defn) =
        GraftMaintenanceSql.resolve(spark, String.valueOf(t).split("\\.").toSeq)
      ChangeFeed
        .readKeyed(spark, binding.log, defn,
          Some(CommitId(String.valueOf(from))), CommitId(String.valueOf(to)),
          String.valueOf(keys).split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .queryExecution.analyzed
    case Seq(Literal(t, StringType), TimestampMicros(from), TimestampMicros(to)) =>
      val spark = SparkSession.active
      val (binding, defn) =
        GraftMaintenanceSql.resolve(spark, String.valueOf(t).split("\\.").toSeq)
      val reader = VersionedReader(spark, binding.log)
      ChangeFeed
        .read(spark, binding.log, defn,
          Some(reader.commitAtOrBefore(defn, from)),
          reader.commitAtOrBefore(defn, to))
        .queryExecution.analyzed
    case other =>
      sys.error("graft table_changes takes (catalog.db.table, from, to[, 'k1,k2']) with " +
        "from/to both commit-id strings or both TIMESTAMP literals and the optional " +
        "4th argument a comma-separated key-column list (keyed CDF), got " +
        other.map(_.sql).mkString(", "))
  }

  /** A folded `TIMESTAMP '...'` literal (LTZ or NTZ — micros since epoch;
    * the engine pins the session zone to UTC, where the two coincide). */
  private object TimestampMicros {
    def unapply(e: Expression): Option[java.time.Instant] = e match {
      case Literal(micros: java.lang.Long, TimestampType | TimestampNTZType) =>
        Some(java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS))
      case _ => None
    }
  }
}
