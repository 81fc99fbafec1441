package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}

/**
 * `INSERT INTO t REPLACE WHERE <pred> <select>` — Delta's transactional
 * selective overwrite: atomically delete every row matching the predicate
 * and insert the statement's rows, ONE time-travelable commit (reference
 * semantics: guardian/table-versions models each table change as one
 * atomic `TableUpdate`, core/src/main/scala/com/gu/tableversions/core/
 * TableVersions.scala:78).
 *
 * Contract (Delta parity): every INCOMING row must satisfy the predicate
 * — a row landing outside the replaced region would silently widen the
 * overwrite, so it refuses loudly instead. The predicate is a plain
 * column expression (no subqueries — it is a region descriptor, not a
 * query).
 *
 * Scale shape, two tiers:
 *
 *  - **Partition-scoped predicate** (references partition columns only):
 *    ZERO data files are read. The matched partitions are decided from
 *    the commit fold's partition VALUES (driver-side metadata), the new
 *    rows are written as fresh version dirs, and matched partitions that
 *    received no replacement rows drop via `RemovePartition` ops riding
 *    the SAME rebase-checked commit. This is dynamic partition overwrite
 *    with an explicit scope — the 100 TB path for backfills
 *    (`REPLACE WHERE date = '2024-01-01'`).
 *
 *  - **General row predicate**: partition-granular copy-on-write — only
 *    partitions holding matching rows (or receiving new ones) are read
 *    and rewritten (survivors carried, matching rows dropped, new rows
 *    unioned); every other partition's version pointer stays put.
 *
 * Both tiers commit with the rebase discipline: concurrent
 * disjoint-partition commits compose, overlapping ones conflict loudly.
 */
object ReplaceWhere {

  def run(
      session: SparkSession,
      binding: GraftTableCatalog.Binding,
      defn: TableDefinition,
      predicateSql: String,
      source: DataFrame,
      user: UserId): Unit = {
    val log = binding.log
    val pred = expr(predicateSql)
    val notPred = not(coalesce(pred, lit(false)))
    val readCommit = log.currentCommit(defn.name)
    val current = ColumnMapping.read(session, log, defn)
    // align to the current write-side (logical) schema; a never-written
    // table takes the statement's own shape
    // PERSIST across the guard and the commit: a non-deterministic source
    // (rand(), limit over unordered input) re-evaluated between the two
    // could pass the guard yet write rows outside the replaced region —
    // the exact widening the guard exists to prevent (Delta enforces
    // replaceWhere per-row at write; pinning one evaluation is the
    // equivalent guarantee for the pre-pass shape)
    val aligned =
      (if (current.columns.nonEmpty)
        source.select(current.schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      else source).persist()
    try {
    // Delta parity: incoming rows outside the replaced region refuse
    val stray = aligned.where(notPred).limit(1).count()
    require(stray == 0L,
      s"INSERT REPLACE WHERE: ${stray}+ incoming row(s) do not satisfy the " +
        s"replace predicate ($predicateSql) — the statement only overwrites " +
        "the matching region; filter the source or widen the predicate")
    val msg = s"INSERT REPLACE WHERE $predicateSql"

    if (current.columns.isEmpty) { // first write: nothing to replace
      if (!aligned.isEmpty) GraftDml.commit(defn, binding, aligned, msg, readCommit)
      return
    }
    if (defn.isSnapshot) {
      GraftDml.commit(
        defn, binding, current.where(notPred).unionByName(aligned), msg, readCommit)
      return
    }
    // copy-on-write rewrites current-scheme dirs only; a mixed era fold
    // would keep serving old-era copies of the replaced rows
    PartitionEvolution.requireUniformFold(log, defn, "INSERT REPLACE WHERE")
    val partCols = defn.partitionSchema.columns.map(_.name)

    // tier 1: predicate decidable from partition VALUES alone → matched
    // partitions come from the fold (metadata), zero data reads
    val predRefs = org.apache.spark.sql.GraftSqlShim.expression(pred)
      .collect { case a: UnresolvedAttribute => a.nameParts }
    val partitionScoped = predRefs.nonEmpty && predRefs.forall {
      case Seq(n) => partCols.exists(_.equalsIgnoreCase(n))
      case _      => false
    }
    if (partitionScoped) {
      val fold = log.currentVersion(defn.name) match {
        case PartitionedTableVersion(pvs) => pvs.keys.toList
        case other => sys.error(s"unexpected fold for partitioned table: $other")
      }
      val pvDf = session.createDataFrame(
        java.util.Arrays.asList(
          fold.map(p => Row(p.columnValues.map(_.value): _*)): _*),
        StructType(partCols.map(StructField(_, StringType))))
      val matchedVals = pvDf.where(pred).collect()
        .map(r => partCols.indices.map(r.getString).toList).toSet
      val matched = fold.filter(p => matchedVals.contains(p.columnValues.map(_.value).toList))
      if (matched.isEmpty && aligned.isEmpty) return // no region, no rows: no-op
      // new rows land as fresh dirs; matched partitions not re-written
      // drop in the same commit (versionedInsertInto filters out the ones
      // the write job produced)
      GraftDml.commit(defn, binding, aligned, msg, readCommit, alsoRemove = matched)
      return
    }

    // MERGE-ON-READ tier (`SET spark.graft.dml.mergeOnRead=true`, the
    // q85–q88 posture): matching rows hide behind deletion-vector pairs,
    // incoming rows land as a row overlay, ONE scoped-OCC commit, ZERO
    // partition rewrites — arbitrary-region backfill at O(changes). The
    // partition-scoped tier above stays copy-on-write in every mode (it
    // is already zero-read — pointer moves only).
    if (TableProperties.effectiveFlag(
        session, binding.log, defn, TableProperties.MergeOnRead)) {
      RowOverlay.replaceWhere(
        VersionContext(GraftV2Table.metastoreFor(binding, defn)),
        defn, pred, aligned, user, UpdateMessage(s"$msg (merge-on-read)"))
      return
    }

    // tier 2: general predicate — rewrite only partitions with matching
    // rows or incoming rows; survivors carry, matching rows drop
    val touched = current.where(pred).select(partCols.map(c => col(c).cast("string")): _*)
      .unionByName(aligned.select(partCols.map(c => col(c).cast("string")): _*))
      .distinct().collect()
    if (touched.isEmpty) return // nothing matched, nothing to insert
    val touchedDf = session.createDataFrame(
      java.util.Arrays.asList(touched: _*),
      StructType(partCols.map(StructField(_, StringType))))
    val scope = current.join(
      org.apache.spark.sql.functions.broadcast(touchedDf), partCols, "left_semi")
    val before = log.currentVersion(defn.name) match {
      case PartitionedTableVersion(pvs) => pvs.keys.toList
      case other => sys.error(s"unexpected fold for partitioned table: $other")
    }
    val emptiable = touched
      .map(r => partCols.indices.map(r.getString).toList).toSet
    val removable = before.filter(p =>
      emptiable.contains(p.columnValues.map(_.value).toList))
    GraftDml.commit(
      defn, binding, scope.where(notPred).unionByName(aligned), msg, readCommit,
      alsoRemove = removable)
    } finally {
      aligned.unpersist()
      ()
    }
  }
}
