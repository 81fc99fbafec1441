package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, monotonically_increasing_id}

import graft.core._
import graft.core.Metastore.TableChanges
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/**
 * IDENTITY COLUMNS (the Delta `GENERATED ALWAYS AS IDENTITY` shape):
 * engine-assigned unique, batch-monotone row ids with NO coordination
 * between executors and no extra pass over the data.
 *
 * Assignment: ids are `hwm + 1 + monotonically_increasing_id()` — each
 * task stamps from its own disjoint 2³³-wide range, so uniqueness needs
 * no shuffle and no driver round-trip; like Delta, ids are unique and
 * increasing across batches but NOT contiguous (gaps are the price of
 * distributed assignment, and the documented contract).
 *
 * The HIGH-WATER MARK rides IN the write commit's message
 * (`identity:<col> hwm=<n>`, the MV-anchor/COPY-INTO discipline): the
 * advance and the data commit are one atomic record, so a crash cannot
 * fork the sequence, and the mark resolves from the commit the CURRENT
 * POINTER names (newest at-or-before — a RESTORE rolls the sequence back
 * with the data it rolled back; the fold's resurrect-on-next-commit quirk
 * then revives both together, keeping ids and rows consistent). The
 * recorded advance is the max id actually present in the staged output —
 * ground truth, immune to the write job planning a different partition
 * count than any pre-write observation.
 *
 * Scope: assignment happens through [[insertWithIdentity]] — the
 * dedicated write entry — and, once [[declare]]d (`ALTER TABLE … ADD
 * COLUMN c BIGINT GENERATED ALWAYS AS IDENTITY`), through every SQL
 * `INSERT INTO`/`INSERT OVERWRITE` on the table's graft catalog. A batch
 * that supplies its own values is rejected (`ALWAYS` semantics: the
 * engine owns the sequence); direct Scala-API `versionedInsertInto`
 * writes bypass stamping — use [[insertWithIdentity]] there.
 */
object IdentityColumns {

  private val Mark = """identity:(\w+) hwm=(\d+)""".r.unanchored

  /** The table's DECLARED identity column, if any — the SQL
    * `GENERATED ALWAYS AS IDENTITY` registration ([[declare]]). One
    * fold of the cached log ([[MetadataFiles.identity]]). */
  def declared(
      spark: org.apache.spark.sql.SparkSession, log: TableVersions,
      table: TableDefinition): Option[String] =
    MetadataFiles.identity.current(spark, log, table).get("column")

  /** Declare `column` as the table's engine-assigned identity column
    * (the `ALTER TABLE … ADD COLUMN c BIGINT GENERATED ALWAYS AS
    * IDENTITY` registration): every subsequent SQL INSERT that omits the
    * column (or carries it all-NULL — the analyzer's fill for an omitted
    * column-list entry) gets ids stamped by the engine; a batch supplying
    * values rejects (`ALWAYS` semantics). One identity column per table;
    * partition columns and generated columns are ineligible. The
    * declaration lands as a metadata-only audit commit. */
  def declare(
      spark: org.apache.spark.sql.SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      column: String,
      user: UserId): Unit = {
    val declaredOnce: Map[String, String] => Map[String, String] = decl => {
      decl.get("column").foreach(existing => throw new IllegalArgumentException(
        s"table ${table.name.fullyQualifiedName} already has identity column $existing"))
      Map("column" -> column)
    }
    val log = ctx.metastore.tableVersions
    declaredOnce(MetadataFiles.identity.current(spark, log, table))
    require(!table.partitionSchema.columns.exists(_.name.equalsIgnoreCase(column)),
      s"identity column $column cannot be a partition column")
    require(!GeneratedColumns.list(spark, log, table).exists(_.column.equalsIgnoreCase(column)),
      s"column $column already has a generation rule")
    MetadataFiles.identity.commit(spark, ctx.metastore, table,
      UpdateMessage(s"ALTER TABLE ADD IDENTITY COLUMN $column"), user)(declaredOnce)
    ()
  }

  /** Stamp fresh ids into `column` of a batch that does not carry it:
    * `hwm + 1 + monotonically_increasing_id()` — per-task-disjoint ranges,
    * no shuffle, no driver round-trip. */
  private[spark] def stamped(df: DataFrame, column: String, hwm: Long): DataFrame =
    df.withColumn(column, lit(hwm + 1L) + monotonically_increasing_id())

  /** ID-PRESERVING write — the ROW-TRACKING rewrite path
    * ([[RowTracking]]): the batch MAY carry `column`, and a non-null
    * carried value is kept verbatim (the read-modify-write contract: a
    * carried id must come from this table's own reads, which is what
    * keeps it unique); null or absent ids mint fresh above the high-water
    * mark. Same staged-max hwm derivation and CAS commit as
    * [[insertWithIdentity]] — the carried ids are ≤ the observed mark, so
    * the recorded advance stays exact. */
  private[spark] def insertPreserving(
      df: DataFrame,
      ctx: VersionContext,
      table: TableDefinition,
      column: String,
      userId: UserId,
      message: UpdateMessage): (TableVersion, TableChanges) = {
    val spark = df.sparkSession
    val hwm = effectiveHighWaterMark(
      spark, ctx.metastore.tableVersions, table, column)
    stageAndCommit(stampedPreserving(df, column, hwm), ctx, table, column,
      userId, message, hwmAtStamp = hwm)
  }

  /** Coalesce-stamp: rows already carrying a non-null id keep it, the
    * rest mint fresh above `hwm` — the shared core of the id-preserving
    * write paths ([[insertPreserving]], conditional MERGE). */
  private[spark] def stampedPreserving(
      df: DataFrame, column: String, hwm: Long): DataFrame = {
    val withCol =
      if (df.columns.exists(_.equalsIgnoreCase(column))) df.toDF()
      else df.toDF().withColumn(
        column, org.apache.spark.sql.functions.lit(null).cast("long"))
    withCol.withColumn(
      column,
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.col(column),
        lit(hwm + 1L) + monotonically_increasing_id()))
  }

  /** The column's high-water mark as of the CURRENT pointer (0 = never
    * assigned). Newest at-or-before fold, like every per-state artifact. */
  def currentHighWaterMark(log: TableVersions, table: TableName, column: String): Long =
    highWaterMarkAt(log, table, column, log.currentCommit(table))

  /** The mark as of a SPECIFIC commit — the shallow-clone carry resolves
    * the source's mark at the cloned state. */
  private[spark] def highWaterMarkAt(
      log: TableVersions, table: TableName, column: String, at: TableVersions.CommitId): Long =
    markAt(log, table, column, at).getOrElse(0L)

  private def markAt(
      log: TableVersions,
      table: TableName,
      column: String,
      at: TableVersions.CommitId): Option[Long] =
    log.updates(table).iterator // newest first
      .dropWhile(_.id != at)
      .map(_.message.content)
      .collectFirst { case Mark(c, n) if c.equalsIgnoreCase(column) => n.toLong }

  /** The mark the WRITE PATH stamps from: the lineage-resolved mark, or —
    * when NO mark survives in the retained history (a log checkpoint
    * folds commit messages with their commits) — the max id physically
    * present in the table's files, DV-hidden rows included: ids must keep
    * starting above every id ever assigned even after the bookkeeping
    * horizon moved, and a deleted row's id is never reused. One
    * single-column scan, only in the mark-less case. */
  private[spark] def effectiveHighWaterMark(
      spark: org.apache.spark.sql.SparkSession,
      log: TableVersions,
      table: TableDefinition,
      column: String): Long =
    effectiveHighWaterMarkAt(spark, log, table, column, None)

  /** As-of form of [[effectiveHighWaterMark]] — the shallow-clone carry
    * resolves the source's mark AT the cloned state with the same scan
    * fallback as the write path: a checkpoint that folded the mark out of
    * retained history must not make the clone re-mint carried ids. */
  private[spark] def effectiveHighWaterMarkAt(
      spark: org.apache.spark.sql.SparkSession,
      log: TableVersions,
      table: TableDefinition,
      column: String,
      asOf: Option[TableVersions.CommitId]): Long = {
    val at = asOf.getOrElse(log.currentCommit(table.name))
    markAt(log, table.name, column, at).getOrElse {
      val logical = VersionedScan(
        spark, log, table, asOf, vectors = VersionedScan.Vectors.Raw,
        names = VersionedScan.Names.AtState)
      if (!logical.columns.exists(_.equalsIgnoreCase(column))) 0L
      else {
        val r = logical.agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col(column))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    }
  }

  /** The mark text appended to a commit message — shared by the write
    * path and the shallow-clone state commit. */
  private[spark] def markText(column: String, hwm: Long): String =
    s"identity:$column hwm=$hwm"

  /** Write `df` as a new version of `table` with engine-assigned ids in
    * `column`. One ordinary versioned write; the id column and the
    * advanced high-water mark ride the same atomic commit. */
  def insertWithIdentity(
      df: DataFrame,
      ctx: VersionContext,
      table: TableDefinition,
      column: String,
      userId: UserId,
      message: UpdateMessage): (TableVersion, TableChanges) = {
    require(!df.columns.exists(_.equalsIgnoreCase(column)),
      s"identity column $column is GENERATED ALWAYS — the batch must not supply it")
    val hwm = effectiveHighWaterMark(
      df.sparkSession, ctx.metastore.tableVersions, table, column)
    stageAndCommit(stamped(df, column, hwm), ctx, table, column, userId, message,
      hwmAtStamp = hwm)
  }

  /** Refuse when a concurrent writer advanced `column`'s high-water mark
    * past `stampBase`, the mark this `what`'s ids were stamped from: the
    * ids would overlap. Run inside each commit attempt. */
  private[spark] def requireMarkUnmoved(
      spark: org.apache.spark.sql.SparkSession, log: TableVersions, table: TableDefinition,
      column: String, stampBase: Long, what: String): Unit = {
    val hwmNow = effectiveHighWaterMark(spark, log, table, column)
    if (hwmNow != stampBase)
      throw new TableVersions.ConcurrentWriteException(
        s"identity column $column of ${table.name.fullyQualifiedName}: a " +
          s"concurrent writer advanced the high-water mark ($stampBase -> " +
          s"$hwmNow) after this $what's ids were stamped — the ids would " +
          "overlap; re-run (it re-reads the mark and re-stamps)")
  }

  /** Stage a batch whose `column` ids are already stamped, derive the
    * committed high-water mark from the STAGED OUTPUT, and commit — the
    * shared core of [[insertWithIdentity]] and the SQL INSERT path.
    *
    * Stage first, commit second: the advance recorded in the commit is the
    * MAX ID ACTUALLY ASSIGNED, read back from the staged files — never a
    * prediction from an observed partition count (AQE can re-plan the
    * write with more partitions than a separate df.rdd conversion showed,
    * which would assign ids above a predicted headroom and let the next
    * batch collide). One batch-sized single-column scan of the files just
    * written; parquet column stats keep it footer-cheap.
    *
    * `alsoRemove` partitions the job did not write ride the same commit
    * (the SQL INSERT OVERWRITE stale set — [[VersionContext]]'s contract).
    * `beforeCommit` runs on the staged write after its ids are read back
    * and before the commit (the SQL append carries its touched
    * partitions' rows into the staged dirs there).
    *
    * CONCURRENCY: the high-water mark is whole-table state invisible to
    * partition conflict scopes, so two identity writers stamping from the
    * same observed mark would mint OVERLAPPING ids even when their
    * partitions compose — the one silent failure the uniqueness contract
    * cannot tolerate. The commit is therefore a CAS loop that serializes
    * ONLY against hwm-advancing commits: an intervening commit that left
    * the mark untouched (an ordinary partition write) just re-targets the
    * CAS; an intervening commit that ADVANCED the mark means this batch's
    * ids were derived stale — throw
    * [[graft.core.TableVersions.ConcurrentWriteException]] loudly (the
    * staged dirs stay unreferenced; the caller re-runs, which re-reads
    * the mark and re-stamps). */
  private[spark] def stageAndCommit(
      df: DataFrame,
      ctx: VersionContext,
      table: TableDefinition,
      column: String,
      userId: UserId,
      message: UpdateMessage,
      alsoRemove: Seq[Partition] = Nil,
      hwmAtStamp: Long = -1L,
      rebaseAt: Option[TableVersions.CommitId] = None,
      txn: Option[TableVersions.StreamTxn] = None,
      beforeCommit: VersionContext.StagedCommit => Unit = _ => ()): (TableVersion, TableChanges) = {
    val log = ctx.metastore.tableVersions
    val staged = df.versionedStage(ctx, table, userId, message, alsoRemove)
    val spark = df.sparkSession
    val dirs = staged.update.operations.collect {
      case TableVersions.TableOperation.AddTableVersion(v) =>
        VersionPaths.pathFor(table.location, v).toString
      case TableVersions.TableOperation.AddPartitionVersion(p, v) =>
        SparkPaths.dirFor(table.location, p, v)
    }
    val assignedMax: Option[Long] =
      if (dirs.isEmpty) None
      else {
        val raw = spark.read.format(table.format.name).load(dirs: _*)
        // staged files carry PHYSICAL names under column mapping
        val logical = ColumnMapping.applyLogical(raw, spark, log, table, None)
        val r = logical.agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col(column))).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    val stampBase =
      if (hwmAtStamp >= 0L) hwmAtStamp
      else effectiveHighWaterMark(spark, log, table, column)
    beforeCommit(staged)
    val newHwm = assignedMax.map(math.max(_, stampBase)).getOrElse(stampBase)
    val marked = staged.copy(update = staged.update.copy(
      metadata = staged.update.metadata.copy(
        message = UpdateMessage(s"${message.content} ${markText(column, newHwm)}"),
        txn = txn.orElse(staged.update.metadata.txn))))
    // MERGE's commit discipline: REBASE anchored at the rewrite's read
    // state (partition conflicts throw, disjoint commits compose), with
    // the hwm check and the scheme guard run INSIDE the rebase's CAS
    // critical section via the revalidate hook — an intervening mark
    // advance means this batch's ids were stamped stale, exactly the
    // condition the CAS loop below checks for plain identity writes.
    rebaseAt match {
      case Some(rc) =>
        return ctx.metastore.commitRebase(
          table.name, marked.update, rc,
          metadata = () => marked.schemaEntry(log),
          revalidate = () => {
            PartitionEvolution.requireCurrentScheme(spark, log, table)
            requireMarkUnmoved(spark, log, table, column, stampBase, "rewrite")
          })
      case None => ()
    }
    var attempts = 0
    while (true) {
      val expected = log.currentCommit(table.name)
      // same critical-section discipline as the hwm check below: a
      // partition-scheme boundary landing after this guard moves the
      // head, so the commitIf refuses and the guard re-runs
      PartitionEvolution.requireCurrentScheme(spark, log, table)
      requireMarkUnmoved(spark, log, table, column, stampBase, "batch")
      ctx.metastore.commitIf(table.name, marked.landing(log), expected) match {
        case Some(r) => return r
        case None =>
          attempts += 1
          if (attempts > 8)
            throw new TableVersions.ConcurrentWriteException(
              s"identity write to ${table.name.fullyQualifiedName}: CAS lost " +
                s"$attempts times under contention; giving up")
      }
    }
    sys.error("unreachable")
  }
}
