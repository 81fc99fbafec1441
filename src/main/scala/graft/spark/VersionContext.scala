package graft.spark

import java.net.URI
import java.time.Instant

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Dataset, SaveMode}

import graft.core._
import graft.core.Metastore.TableChanges
import graft.core.TableVersions._

/**
 * Versioned Spark writes (SURVEY.md §2.1 V15–V18).
 *
 * Semantics follow the reference's
 * `spark/src/main/scala/com/gu/tableversions/spark/VersionContext.scala:25-44,53-90`:
 * `versionedInsertInto` emulates a Hive insert — it overwrites exactly the
 * partitions present in the dataset (all sharing ONE freshly generated
 * `Version`, reference `:68`), leaves every other partition untouched, and
 * then commits + syncs the metastore.
 *
 * Mechanics are Spark-4-native (SURVEY.md §7.3): instead of the reference's
 * `versioned://` Hadoop FileSystem proxy
 * (`spark/.../filesystem/VersionedFileSystem.scala:36-69`), data lands in a
 * staging dir `<table>/_staging/<label>` via one ordinary `partitionBy`
 * write, then each partition dir is renamed to
 * `<table>/<partition>/<label>` — one Spark job plus O(#partitions)
 * metadata ops. Rename is atomic per-dir on HDFS/local; on S3 it becomes a
 * copy, but the layout (never-referenced-until-commit version dirs) keeps
 * failed jobs invisible to readers either way — the reference's
 * orphan-on-failure safety (its §4.2 committer-v2 property).
 */
final case class VersionContext(
    metastore: VersionedMetastore,
    newVersion: () => Version = () => Version.generateVersion()) {

  /** Track the table in the commit log and register it with the metastore
    * (the reference splits this between caller DDL and `init`).
    * `declared` — commit-line table metadata, the table's declarations at
    * creation — rides the init commit, over the empty value of every other
    * declaration ([[MetadataFiles.undeclared]]); when the log already
    * tracks the table it lands on one metadata-only commit instead of
    * being dropped. */
  def init(
      table: TableDefinition, userId: UserId, message: UpdateMessage,
      declared: Map[String, String] = Map.empty): Unit = {
    metastore.metastore.register(table) // no-op for catalog-backed metastores
    val created = metastore.init(table.name, table.isSnapshot, userId, message,
      Instant.now(), MetadataFiles.undeclared ++ declared)
    if (!created && declared.nonEmpty) {
      metastore.commit(table.name,
        TableUpdate(userId, message, Instant.now(), Nil).withTableMetadata(declared))
      ()
    }
  }
}

object VersionContext {

  /** A write whose data landed (invisible version dirs) but whose commit
    * is deferred to [[commitTransaction]]. `data` is the written frame's
    * schema: its [[DataSchema]] entry depends on the state the commit lands
    * on, so each commit attempt derives it ([[landing]]). */
  final case class StagedCommit(
      table: TableDefinition, update: TableUpdate, data: org.apache.spark.sql.types.StructType) {

    /** The [[DataSchema]] entry of this write landing on the table's state
      * now. */
    def schemaEntry(log: TableVersions): Map[String, String] =
      DataSchema.written(
        org.apache.spark.sql.SparkSession.active, log, table, data, update.operations)

    /** The update to commit on the table's state now. */
    def landing(log: TableVersions): TableUpdate = update.withTableMetadata(schemaEntry(log))
  }

  /** ATOMIC MULTI-TABLE TRANSACTION commit: every staged table's pointer
    * moves in one atomic step of the shared commit log
    * ([[TableVersions.commitAll]]) — readers of the table GROUP see either
    * none of the transaction or all of it, with no cross-table lock (the
    * durable log's commit point is a single marker-file create). On any
    * failure before the commit point the staged version dirs stay
    * unreferenced — vacuum's ordinary orphan posture, no cleanup step. */
  def commitTransaction(ctx: VersionContext, staged: Seq[StagedCommit]): Unit = {
    // scheme re-validation at the commit step: each staged table must
    // still carry its current era. commitAll has no per-table CAS loop,
    // so a boundary landing inside this tiny metadata window is caught
    // by the boundary's own whole-table conflict scope only when it
    // commits AFTER this transaction — the remaining exposure is an
    // evolve racing a multi-table txn at microsecond granularity.
    val spark = org.apache.spark.sql.SparkSession.active
    val log = ctx.metastore.tableVersions
    staged.foreach(s => PartitionEvolution.requireCurrentScheme(spark, log, s.table))
    // the schema entries derive here too: a write landing in between
    // composes (plain-commit posture), and a column only it adds may miss
    // this transaction's entry
    ctx.metastore.commitAll(staged.map(s => s.table.name -> s.landing(log)))
    ()
  }

  /** Plain-commit discipline with the [[PartitionEvolution]] stale-scheme
    * guard re-run INSIDE the head-CAS critical section: per attempt, read
    * the head, re-validate the scheme at it, then commit iff the head is
    * unchanged. An evolution boundary landing after the guard passed
    * necessarily moves the head, failing the CAS and re-running the
    * guard against the landed boundary — the validate-then-commit
    * TOCTOU window of a stage-time-only check is closed. Disjoint
    * concurrent writers just re-target the CAS (same composition as
    * plain commit; the retry bound only trips under pathological
    * contention). */
  private def commitSchemeGuarded(
      spark: org.apache.spark.sql.SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      staged: StagedCommit): (TableVersion, TableChanges) = {
    val log = ctx.metastore.tableVersions
    var attempts = 0
    while (true) {
      val head = log.currentCommit(table.name)
      PartitionEvolution.requireCurrentScheme(spark, log, table)
      ctx.metastore.commitIf(table.name, staged.landing(log), head) match {
        case Some(r) =>
          // post-write maintenance (property/conf-gated, no-ops by
          // default): a stats-enabled table refreshes its sidecar off the
          // just-superseded state so pruned reads never see it stale, and
          // a `graft.autoOptimize` table folds small-file pressure
          FileStats.maybeAutoUpdate(spark, log, table, head)
          TableProperties.maybeAutoOptimize(
            spark, ctx, table, staged.update.metadata.userId)
          return r
        case None =>
          attempts += 1
          if (attempts > 64)
            throw new ConcurrentWriteException(
              s"table ${table.name.fullyQualifiedName}: commit lost the head " +
                s"CAS $attempts times under contention; giving up")
      }
    }
    sys.error("unreachable")
  }

  /** Commit a staged copy-on-write rewrite of state `readCommit` with the
    * [[TableVersions.commitRebase]] discipline (see
    * [[DatasetVersionOps.versionedInsertIntoRebase]]); returns the new
    * commit id, or `readCommit` when the staged update has no ops. */
  private[spark] def commitRebased(
      spark: org.apache.spark.sql.SparkSession,
      ctx: VersionContext,
      staged: StagedCommit,
      readCommit: TableVersions.CommitId): TableVersions.CommitId = {
    val table = staged.table
    // nothing written, nothing removed: committing an EMPTY-ops update
    // would be a junk history entry with whole-table conflict scope
    if (staged.update.operations.isEmpty) return readCommit
    // the sidecar refresh anchors on the pre-commit head, not readCommit:
    // a rebase may compose over commits that landed after the read
    val log = ctx.metastore.tableVersions
    val preHead = log.currentCommit(table.name)
    ctx.metastore.commitRebase(
      table.name, staged.update, readCommit,
      revalidate = () => PartitionEvolution.requireCurrentScheme(spark, log, table),
      metadata = () => staged.schemaEntry(log))
    FileStats.maybeAutoUpdate(spark, log, table, preHead)
    TableProperties.maybeAutoOptimize(spark, ctx, table, staged.update.metadata.userId)
    staged.update.metadata.id
  }

  /** Enrichment giving `Dataset[T]` the reference's headline write API. */
  implicit final class DatasetVersionOps[T](private val ds: Dataset[T]) extends AnyVal {

    /** Stage this dataset as a new version of `table` for a multi-table
      * transaction: the write job runs NOW (constraints enforced, column
      * mapping applied — the ordinary pre-write pipeline), the data lands
      * as never-referenced version dirs, and the commit is deferred to
      * [[VersionContext.commitTransaction]]. `alsoRemove`: partitions the
      * commit drops unless the job wrote them. */
    def versionedStage(
        ctx: VersionContext,
        table: TableDefinition,
        userId: UserId,
        message: UpdateMessage,
        alsoRemove: Seq[Partition] = Nil): StagedCommit =
      writeVersion(ds, ctx, table, userId, message, alsoRemove = alsoRemove)

    /** Write this dataset as a new version of `table`, then commit + sync.
      * Returns the resulting table version and the catalog ops applied. */
    def versionedInsertInto(
        ctx: VersionContext,
        table: TableDefinition,
        userId: UserId,
        message: UpdateMessage,
        txn: Option[TableVersions.StreamTxn] = None,
        alsoRemove: Seq[Partition] = Nil): (TableVersion, TableChanges) = {
      // alsoRemove: partitions to drop in the SAME commit unless the job
      // wrote them (static INSERT OVERWRITE's stale set, a DELETE's fully
      // emptied partitions) — one atomic commit instead of a write +
      // follow-up-prune pair with its transient merged-state window
      commitSchemeGuarded(ds.sparkSession, ctx, table,
        writeVersion(ds, ctx, table, userId, message, txn, alsoRemove))
    }

    /** MERGE-ON-READ append ([[RowOverlay.append]]): land this dataset's
      * rows into `table`'s current state without rewriting ANY existing
      * file — rows for existing partitions ride a row-overlay sidecar,
      * rows for absent partitions get ordinary new version dirs, one
      * strict-OCC commit. The scattered-row append shape at 100 TB; the
      * copy-on-write [[versionedInsertInto]] stays the bulk/regeneration
      * path. */
    def versionedAppendInto(
        ctx: VersionContext,
        table: TableDefinition,
        userId: UserId,
        message: UpdateMessage): TableVersions.CommitId =
      RowOverlay.append(ds.toDF(), ctx, table, userId, message)

    /** Optimistic-concurrency variant of [[versionedInsertInto]]: the data
      * lands as usual (version dirs are invisible until referenced), but
      * the commit applies only if `expected` still names the table's
      * current commit. On conflict returns None and the fresh version dirs
      * stay orphaned — never referenced, reclaimed by vacuum — so the
      * losing writer re-reads the new state and retries with NO cleanup
      * step. This is what SNAPSHOT writers race with: two writers that both
      * derived their snapshot from the same observed commit must resolve
      * to one winner and one loud conflict, never a silent lost update.
      * (Disjoint-partition writers keep using [[versionedInsertInto]] —
      * their commits compose.) */
    /** WRITE-AUDIT-PUBLISH branch write: the data lands as ordinary
      * immutable version dirs and a DETACHED commit (the current pointer
      * does not move — main readers are oblivious), and `branch` is
      * created/advanced to the new commit. Audit the staged state through
      * the branch ref (`versionAt`, or SQL `VERSION AS OF '<branch>'`);
      * publish it with `metastore.publish(table, log.refCommit(...))` —
      * attach the staged chain + atomic pointer swap; abandon it by
      * deleting the ref (vacuum reclaims the unreferenced dirs). The
      * external metastore is NOT synced by the branch write — that is
      * publish's job. */
    def versionedInsertIntoBranch(
        ctx: VersionContext,
        table: TableDefinition,
        userId: UserId,
        message: UpdateMessage,
        branch: String): TableVersions.CommitId = {
      val log = ctx.metastore.tableVersions
      val update = writeVersion(ds, ctx, table, userId, message).landing(log)
      log.commitDetached(table.name, update)
      log.setRef(table.name, branch, update.metadata.id)
      update.metadata.id
    }

    /** COW-rewrite commit discipline ([[TableVersions.commitRebase]]):
      * the dataset is this writer's REWRITE of state `readCommit`; the
      * data lands as ordinary invisible version dirs, then the commit
      * rebases over intervening disjoint-partition commits and throws
      * [[TableVersions.ConcurrentWriteException]] when an intervening
      * commit overlaps the rewritten scope — the MERGE/UPDATE lost-update
      * window closed without serializing independent partition writers.
      * On conflict the fresh dirs stay unreferenced (vacuum reclaims).
      *
      * `alsoRemove`: partitions the rewrite meant to touch that may end up
      * with NO surviving rows (a DELETE that empties a partition, a MERGE
      * whose every clause deleted). The write job produces no dir for
      * them, so their `RemovePartition` ops ride THIS commit — one atomic
      * commit instead of the write + follow-up-prune pair, which (a)
      * closes the transient window where the emptied partition still
      * served its old rows and (b) puts the emptied partitions in the
      * commit's CONFLICT SCOPE, so a concurrent rebase deriving from the
      * pre-delete state cannot silently resurrect them. Partitions the
      * job did write are filtered out (their Add op wins). */
    def versionedInsertIntoRebase(
        ctx: VersionContext,
        table: TableDefinition,
        userId: UserId,
        message: UpdateMessage,
        readCommit: TableVersions.CommitId,
        txn: Option[TableVersions.StreamTxn] = None,
        alsoRemove: Seq[Partition] = Nil): TableVersions.CommitId = {
      commitRebased(ds.sparkSession, ctx,
        writeVersion(ds, ctx, table, userId, message, txn, alsoRemove), readCommit)
    }

    def versionedInsertIntoIf(
        ctx: VersionContext,
        table: TableDefinition,
        userId: UserId,
        message: UpdateMessage,
        expected: TableVersions.CommitId): Option[(TableVersion, TableChanges)] = {
      val staged = writeVersion(ds, ctx, table, userId, message)
      // scheme re-validation at commit time: an evolution landing after
      // this check necessarily moved the head, so the commitIf below
      // refuses — validate-then-commit has no stale-scheme window
      val log = ctx.metastore.tableVersions
      PartitionEvolution.requireCurrentScheme(ds.sparkSession, log, table)
      ctx.metastore.commitIf(table.name, staged.landing(log), expected)
    }

  }

  /** The write step every versioned insert shares: the pre-write pipeline
    * ([[PartitionEvolution]]'s stale-scheme guard — a writer holding a
    * pre-evolution definition must not land old-scheme dirs — then
    * [[Constraints.enforced]] over the filled defaults and generated
    * columns, in LOGICAL names, its gate riding the write job's own pass
    * via `raise_error`, then the [[ColumnMapping]] logical→physical
    * translation files store), one write job into fresh version dirs, and
    * the update to commit: the written dirs and `alsoRemove`'s unwritten
    * partitions, with the written schema its [[DataSchema]] entry derives
    * from at commit time. `into`: add the rows to that already-written,
    * still uncommitted version's dirs instead of minting a new one. */
  private[spark] def writeVersion(
      ds: Dataset[_], ctx: VersionContext, table: TableDefinition,
      userId: UserId, message: UpdateMessage,
      txn: Option[TableVersions.StreamTxn] = None,
      alsoRemove: Seq[Partition] = Nil,
      into: Option[Version] = None): StagedCommit = {
    val version = into.getOrElse(ctx.newVersion())
    val log = ctx.metastore.tableVersions
    PartitionEvolution.requireCurrentScheme(ds.sparkSession, log, table)
    val mapped = ColumnMapping.toPhysical(
      Constraints.enforced(
        GeneratedColumns.applied(
          ColumnDefaults.applied(ds.toDF(), log, table), log, table), log, table),
      table, log)
    val written =
      if (table.isSnapshot) List(writeSnapshot(mapped, table, version))
      else writePartitioned(mapped, table, version, into = into.isDefined)
    val present = written.collect { case TableOperation.AddPartitionVersion(p, _) => p }.toSet
    val removes = alsoRemove.distinct.filterNot(present).map(TableOperation.RemovePartition(_))
    StagedCommit(table,
      TableUpdate(userId, message, Instant.now(), written ++ removes, txn), mapped.schema)
  }

  /** OPTIMIZED WRITE (guide §6 file sizing; the Iceberg
    * `write.distribution-mode=hash` posture): REBALANCE the rows by the
    * partition columns before the `partitionBy` write, so each partition's
    * rows land in AQE-advisory-sized output files instead of one file per
    * upstream task per partition. Without it, a write whose input has N
    * tasks produces up to N files in EVERY partition dir — a cached batch
    * (AQE cannot re-coalesce a cached plan's output partitioning) or a
    * many-file source scan fragments each commit into dozens of KB-sized
    * files, and every subsequent read pays per-file task overhead; measured
    * on the q90 lifecycle this compounds to 455 files averaging 14 KB.
    * AQE both COALESCES small partitions and SPLITS skewed ones
    * (`optimizeSkewsInRebalancePartitions`), so one hot partition value
    * still writes in parallel at scale — the sizing is governed by
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, not a local-mode
    * constant.
    *
    * A caller whose plan already ENDS in an explicit distribution — a
    * `repartition`/`repartitionByRange`/`coalesce`/`rebalance` hint or a
    * global sort (looking through narrow nodes: projections, filters,
    * aliases, local sorts) — declared its own layout (compaction's
    * bin-packing, Z-order's range clustering, salted writers): the
    * rebalance SKIPS, never second-guessing a deliberate layout with a
    * second shuffle. `spark.graft.write.rebalance=false` disables the
    * whole behavior.
    *
    * SIZE GATE (round 21; guide §1.2 "remove unnecessary shuffles", §6
    * file sizing): when the optimizer's size estimate says the whole
    * write fits inside ONE advisory-sized output file
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), a narrow
    * `coalesce(1)` yields the same bounded layout the rebalance would —
    * at most one file per partition dir — without paying an extra
    * exchange + AQE stage per commit. The estimate starts from exact
    * leaf sizes (parquet leaf sizes, cached-relation sizes, local
    * relations), and unknown-size sources (streaming batches) estimate
    * huge and keep the rebalance. It is NOT a guaranteed over-estimate:
    * default statistics scale a `Project` by the ratio of output to
    * input row width, and with CBO on, filter and aggregate estimates
    * shrink below the child's size — a narrowing projection or a
    * selective filter over a large scan can land in the single-task
    * branch. Copy-on-write DML scopes read only the touched partitions'
    * dirs ([[VersionedScan]] over `partitions`), so their leaves are the touched
    * partitions' real size, not the whole table's. Bytes-driven, so the
    * branch taken is identical at any core count. */
  private[spark] def distributeForWrite(
      df: org.apache.spark.sql.DataFrame,
      partitionCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val enabled =
      df.sparkSession.conf.get("spark.graft.write.rebalance", "true").toBoolean
    if (!enabled || explicitlyDistributed(df.queryExecution.logical)) df
    else {
      val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf
          .get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est <= advisory) df.coalesce(1)
      else if (partitionCols.isEmpty) df.hint("rebalance")
      else df.hint("rebalance", partitionCols: _*)
    }
  }

  @annotation.tailrec
  private def explicitlyDistributed(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: RepartitionOperation => true // repartition / coalesce
      case _: RebalancePartitions  => true
      case s: Sort if s.global     => true // orderBy = range distribution
      case n: Project              => explicitlyDistributed(n.child)
      case n: Filter               => explicitlyDistributed(n.child)
      case n: SubqueryAlias        => explicitlyDistributed(n.child)
      case s: Sort                 => explicitlyDistributed(s.child) // sortWithinPartitions
      case _                       => false
    }
  }

  /** V18: whole-dataset write to `<location>/<label>/`. The caller
    * (`writeVersion`) has already applied the [[Constraints]] gate —
    * it rides this write's own pass, failing the job before any commit
    * publishes — and the [[ColumnMapping]] logical→physical translation. */
  private def writeSnapshot[T](
      ds: Dataset[T],
      table: TableDefinition,
      version: Version): TableOperation = {
    val dest = VersionPaths.pathFor(table.location, version)
    distributeForWrite(ds.toDF(), Nil)
      .write.mode(SaveMode.Append).format(table.format.name).save(dest.toString)
    TableOperation.AddTableVersion(version)
  }

  /** V16: the distinct partition values present in a dataset. Collects only
    * #partitions rows to the driver (same bound as reference `:95-115`).
    * Utility/pre-validation API — the write path itself derives partitions
    * from the STAGED OUTPUT listing (see [[stagedPartitions]]), which is
    * ground truth even when re-evaluating `ds` would produce different
    * rows. */
  def partitionValues[T](ds: Dataset[T], schema: PartitionSchema): List[Partition] = {
    import org.apache.spark.sql.functions.col
    val cols = schema.columns.map(c => col(c.name).cast("string"))
    ds.toDF().select(cols: _*).distinct().collect().toList.map { row =>
      Partition(schema.columns.zipWithIndex.map { case (c, i) =>
        if (row.isNullAt(i) || row.getString(i).isEmpty)
          throw new IllegalArgumentException(
            s"partition column ${c.name} contains null or empty values; " +
              "they are not supported by the versioned layout")
        ColumnValue(c, row.getString(i))
      })
    }
  }

  /** The partitions a `partitionBy` write actually produced, recovered from
    * the staged directory tree (one `k=v` level per partition column,
    * Hive-unescaped). Listing the OUTPUT is the only divergence-proof
    * discovery: re-evaluating the dataset runs the source query again,
    * which for a non-deterministic source can disagree with what was
    * written — silently losing whole partitions at rename time. */
  private def stagedPartitions(
      fs: FileSystem,
      stagingRoot: HPath,
      schema: PartitionSchema): List[Partition] = {
    def walk(dir: HPath, depth: Int, acc: List[ColumnValue]): List[Partition] =
      if (depth == schema.columns.size) List(Partition(acc.reverse))
      else
        fs.listStatus(dir).toList
          .filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(_.contains("="))
          .flatMap { name =>
            val (k, v) = name.span(_ != '=')
            val value = org.apache.spark.sql.GraftSqlShim.unescapePathName(v.drop(1))
            val expected = schema.columns(depth).name
            if (k != org.apache.spark.sql.GraftSqlShim.escapePathName(expected))
              sys.error(s"staged dir $name does not match partition column $expected")
            if (value == "__HIVE_DEFAULT_PARTITION__")
              throw new IllegalArgumentException(
                s"partition column $expected contains null or empty values; " +
                  "they are not supported by the versioned layout")
            walk(new HPath(dir, name), depth + 1,
              ColumnValue(schema.columns(depth), value) :: acc)
          }
    walk(stagingRoot, 0, Nil)
  }

  /** V17: one `partitionBy` job into staging, then per-partition rename
    * into `<partition>/<label>` (SURVEY.md §7.3). `into`: the version's
    * dirs exist already (a second write of the same uncommitted version,
    * into partitions the first one wrote) — staged files move into them
    * one by one. */
  private[spark] def writePartitioned[T](
      ds: Dataset[T],
      table: TableDefinition,
      version: Version,
      into: Boolean = false): List[TableOperation] = {
    val spark = ds.sparkSession
    val staging = new URI(
      Partition.normalizedDir(table.location).toString + s"_staging/${version.label}/")
    distributeForWrite(ds.toDF(), table.partitionSchema.columns.map(_.name))
      .write
      .partitionBy(table.partitionSchema.columns.map(_.name): _*)
      .mode(SaveMode.Append)
      .format(table.format.name)
      .save(staging.toString)

    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(table.location, conf)
    // discovery from the staged output (one fs listing, no second Spark
    // job over the source) — see stagedPartitions
    val partitions =
      try stagedPartitions(fs, new HPath(staging.toString.stripSuffix("/")), table.partitionSchema)
      catch {
        case e: Throwable =>
          // a rejected staging tree (null/empty partition values, layout
          // mismatch) must not leave never-committed data behind
          fs.delete(new HPath(staging.toString.stripSuffix("/")), true)
          throw e
      }
    if (partitions.isEmpty) {
      fs.delete(new HPath(staging.toString.stripSuffix("/")), true)
      Nil
    } else {
      partitions.foreach { p =>
        // staged subdirs carry Spark's Hive-escaped partition names; the
        // destination must use the identical escaped form. Raw strings into
        // Hadoop Path — URI.resolve rejects the literal spaces Hive keeps.
        val escaped = SparkPaths.escapedPartitionPath(p)
        val from = new HPath(staging.toString + escaped)
        val dest = new HPath(SparkPaths.dirFor(table.location, p, version))
        fs.mkdirs(dest.getParent)
        val moved =
          if (into)
            fs.listStatus(from).forall(st => fs.rename(st.getPath, new HPath(dest, st.getPath.getName)))
          else fs.rename(from, dest)
        if (!moved) sys.error(s"failed to move staged partition $from to $dest")
      }
      // trailing slash matters: Path("…/label/").getParent is "…/label" itself
      val stagingPath = new HPath(staging.toString.stripSuffix("/"))
      fs.delete(stagingPath, true)
      // drop the _staging parent too when no other write is using it
      // (non-recursive delete fails harmlessly if non-empty)
      try fs.delete(stagingPath.getParent, false)
      catch { case _: java.io.IOException => () }
      partitions.map(TableOperation.AddPartitionVersion(_, version))
    }
  }
}
