package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.core.TableVersions.{CommitId, UpdateMessage, UserId}
import graft.spark.{VersionContext, VersionedReader}
import graft.spark.VersionContext.DatasetVersionOps

/** Oracle-checked queries that exercise the versioning layer end-to-end
  * (SURVEY.md §2.3 Q2/Q3/Q26): write versions of a table with
  * `versionedInsertInto`, read them back through the commit-log-resolved
  * reader, and compare against DuckDB running on the original source rows.
  *
  * Each run writes to a fresh temp dir, so results are deterministic: the
  * oracle sees exactly the rows the last (or time-traveled-to) version holds.
  */
object Versioned {

  private val user = UserId("graft-verify")

  private def freshContext(): (VersionContext, TableVersions) = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    (ctx, log)
  }

  private def tempTable(name: String, schema: PartitionSchema, format: FileFormat): TableDefinition =
    TableDefinition(
      TableName("graft", name),
      Files.createTempDirectory(s"graft_$name").toUri,
      schema,
      format)

  /** Q3 (+Q1): snapshot versioned insert — write v1 then v2; the reader must
    * see only v2 (old version dirs are unreferenced, not deleted). */
  def q03SnapshotInsert(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable("li_snap", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_snap"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    li.where(col("l_quantity") > 45)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: decoy subset"))
    li.where(col("l_extendedprice") > 40000)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: the real subset"))
    VersionedReader(s, log).read(table)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
  }

  /** Q2: same snapshot cycle through the ORC format path. */
  def q02ScanOrc(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable("li_orc", PartitionSchema.snapshot, FileFormat.Orc)
    ctx.init(table, user, UpdateMessage("create li_orc"))
    Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .where(col("o_totalprice") > 250000)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    VersionedReader(s, log).read(table)
      .orderBy("o_orderkey")
  }

  /** Two partitioned versions of lineitem keyed by l_returnflag; v2
    * overwrites every partition of v1. Returns the log + the v1 commit. */
  private def partitionedTwoVersions(
      s: SparkSession,
      dir: String): (TableDefinition, TableVersions, CommitId) = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_part", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_part"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    li.where(col("l_quantity") <= 25)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: small quantities"))
    val v1Commit = log.updates(table.name).head.id
    li.where(col("l_quantity") > 25)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: large quantities"))
    (table, log, v1Commit)
  }

  /** Q3 (partitioned): current read sees only v2 rows. */
  def q03bPartitionedInsert(s: SparkSession, dir: String): DataFrame = {
    val (table, log, _) = partitionedTwoVersions(s, dir)
    VersionedReader(s, log).read(table)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q26: time travel — read as of the v1 commit without mutating state. */
  def q26TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val (table, log, v1Commit) = partitionedTwoVersions(s, dir)
    VersionedReader(s, log).readAsOf(table, v1Commit)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q53: timestamp-based time travel — `readAsOfTimestamp` resolves an
    * instant strictly between the two commits to the earlier one (last
    * commit at-or-before, the Scala-API twin of SQL `TIMESTAMP AS OF`);
    * the oracle sees v1's rows. The instant derives from the RECORDED
    * commit timestamps (just before v2's), not a wall-clock capture, so a
    * clock step between the writes can't move the resolution — it can only
    * trip the ordering guard, which fails loudly instead of mismatching. */
  def q53TimestampTravel(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_tstravel", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_tstravel"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.where(col("l_quantity") <= 25)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: small quantities"))
    Thread.sleep(2) // keep the two commit timestamps distinct at micro resolution
    li.where(col("l_quantity") > 25)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: large quantities"))
    val commits = log.updates(table.name) // most recent first: v2, v1, init
    require(commits(1).timestamp.isBefore(commits.head.timestamp),
      "system clock stepped backwards between the two commits; rerun")
    VersionedReader(s, log).readAsOfTimestamp(table, commits.head.timestamp.minusNanos(1))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q54: the SQL maintenance surface — `OPTIMIZE` and `VACUUM` issued as
    * SQL TEXT through the injected parser ([[graft.spark.GraftSqlParser]]),
    * completing SQL parity with the Scala maintenance APIs: a deliberately
    * fragmented insert is bin-packed by `OPTIMIZE` (one ordinary
    * time-travelable commit through [[graft.spark.Compaction]]) and the
    * fragmented v1's version dirs are reclaimed by `VACUUM … RETAIN 1
    * COMMITS GRACE 0 MINUTES` (asserted via the command's report row). The
    * read-back by catalog name must be row-identical to the original
    * insert — the oracle replays it relationally. `OPTIMIZE … ZORDER BY`'s
    * SQL spelling is pinned in `GraftTableCatalogSpec`. */
  def q54SqlOptimize(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq54", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq54", log)
    val table = tempTable(
      "li_sqlopt", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_sqlopt"))
    graft.spark.GraftTableCatalog.register("graftq54", table)
    val name = s"graftq54.${table.name.schema}.${table.name.name}"
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .where(col("l_quantity") > 30)
      .repartition(8) // fragment: 8 writer tasks → 8 files per partition
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))
    s.sql(s"OPTIMIZE $name").collect()
    val vac = s.sql(s"VACUUM $name RETAIN 1 COMMITS GRACE 0 MINUTES").collect()
    require(vac.head.getInt(1) > 0, "VACUUM must reclaim the fragmented v1 dirs")
    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_items,
         |       round(sum(l_quantity), 2) AS sum_qty
         |FROM $name GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q31: compaction — a deliberately fragmented insert (8-way repartition
    * → 8 files per partition dir) is rewritten by
    * [[graft.spark.Compaction.compact]] into one file per partition as a
    * fresh version; the read-back must be row-identical to the original
    * insert (which is exactly what the SQL oracle checks). */
  def q31Compact(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_compact", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_compact"))
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .where(col("l_quantity") > 30)
      .repartition(8) // fragment: 8 writer tasks → 8 files per partition
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))
    graft.spark.Compaction.compact(
      s, ctx, table, user, UpdateMessage("v2: compacted"))
    VersionedReader(s, log).read(table)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q38: Z-ORDER clustering compaction — a fragmented snapshot insert is
    * rewritten along the (l_quantity, l_extendedprice) Z-curve into 4
    * range-partitioned files, so min/max footer stats prune BOTH dimensions
    * (per-file spread bounds pinned in `ZOrderSpec`). Row-invisible like
    * q31: the oracle is the original insert. */
  def q38ZorderCompact(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable("li_zorder", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_zorder"))
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .where(col("l_quantity") > 35)
      .repartition(8) // fragment first, like a stream of small inserts
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))
    graft.spark.ZOrder.zorderCompact(
      s, ctx, table, user, UpdateMessage("v2: zordered"),
      zorderCols = Seq("l_quantity", "l_extendedprice"), numFiles = 4)
    VersionedReader(s, log).read(table)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Q43: file-level DATA SKIPPING — a range-clustered snapshot insert (8
    * writer tasks over disjoint l_orderkey ranges), zone maps collected
    * once into the version's `_stats` sidecar, then a bounded-range read
    * through [[graft.spark.FileStats.readSkipping]]: only files whose
    * [min,max] zone intersects the predicate are handed to the scan —
    * the rest are dropped BEFORE any task launches (file-count pruning
    * pinned in `FileStatsSpec`; this entry hash-checks the pruned scan
    * returns exactly the rows a full scan would). */
  def q43FileSkipping(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable("li_zonemap", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_zonemap"))
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: range-clustered"))
    graft.spark.FileStats.writeZoneMaps(s, log, table, Seq("l_orderkey"))
    graft.spark.FileStats
      .readSkipping(s, log, table, "l_orderkey", 1000L, 7000L)
      .where(col("l_orderkey").between(1000L, 7000L))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
  }

  /** Q47: data skipping on a PARTITIONED table — zone pruning COMPOSED with
    * the partition layout: the insert range-clusters l_orderkey within each
    * l_returnflag partition (8 range tasks × partitionBy split), per-file
    * zones land in the state's commit-keyed `_stats` sidecar, and the
    * bounded-orderkey read drops non-intersecting files in EVERY partition
    * before any task launches, while the `k=v` dirs still supply the
    * partition column. */
  def q47PartitionedSkipping(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_pzone", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_pzone"))
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .repartitionByRange(8, col("l_returnflag"), col("l_orderkey"))
      .sortWithinPartitions("l_returnflag", "l_orderkey")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: range-clustered per partition"))
    graft.spark.FileStats.writeZoneMaps(s, log, table, Seq("l_orderkey"))
    graft.spark.FileStats
      .readSkipping(s, log, table, "l_orderkey", 2000L, 9000L)
      .where(col("l_orderkey").between(2000L, 9000L))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q42: incremental MATERIALIZED-AGGREGATE maintenance — the CDC
    * consumption loop: a downstream per-status aggregate table is built
    * once from v1, then after v2 rewrites ONE source partition it is
    * updated from `readChanges` alone (recompute ONLY the groups of moved
    * partitions; carry every other group forward untouched), committed as a
    * new version of the aggregate table. The oracle full-recomputes the
    * final state, so the hash check proves incremental == full — at 100 TB
    * the incremental path reads one partition instead of the table. */
  def q42IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val src = tempTable(
      "ord_src", PartitionSchema(List(PartitionColumn("o_orderstatus"))), FileFormat.Parquet)
    ctx.init(src, user, UpdateMessage("create ord_src"))
    val aggTable = tempTable("ord_agg", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(aggTable, user, UpdateMessage("create ord_agg"))
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("sum_price"))
    val reader = VersionedReader(s, log)

    orders.where(col("o_orderkey") % 3 =!= 0)
      .versionedInsertInto(ctx, src, user, UpdateMessage("v1: base load"))
    val v1Commit = log.updates(src.name).head.id
    aggOf(reader.read(src))
      .versionedInsertInto(ctx, aggTable, user, UpdateMessage("agg v1: full build"))

    // v2 rewrites ONLY the 'O' partition of the source
    orders.where(col("o_orderstatus") === "O" && col("o_orderkey") % 2 === 0)
      .versionedInsertInto(ctx, src, user, UpdateMessage("v2: refresh O"))
    val v2Commit = log.updates(src.name).head.id

    // incremental maintenance: the delta read carries the NEW full contents
    // of exactly the moved partitions; their group keys replace, the rest
    // carry forward (the touched-key set is #partitions rows)
    val changed = reader.readChanges(src, v1Commit, v2Commit)
    val touchedKeys = changed.select("o_orderstatus").distinct()
    val carried = reader.read(aggTable)
      .join(broadcast(touchedKeys), Seq("o_orderstatus"), "left_anti")
    carried.unionByName(aggOf(changed))
      .versionedInsertInto(ctx, aggTable, user, UpdateMessage("agg v2: incremental"))

    reader.read(aggTable).orderBy("o_orderstatus")
  }

  /** Q41: the DURABLE commit log end-to-end — the same partitioned
    * write/read lifecycle as q03b but through [[JsonFileTableVersions]]
    * (fsync'd JSON-lines appends + lock files), with the log RE-OPENED as a
    * fresh instance between write and read: the read resolves purely from
    * what reached disk, so the oracle hash-checks crash-durable persistence,
    * not in-process state. */
  def q41DurableLog(s: SparkSession, dir: String): DataFrame = {
    val logDir = Files.createTempDirectory("graft_durable_log")
    val log = new JsonFileTableVersions(logDir)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = tempTable(
      "li_durable", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_durable"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    li.where(col("l_quantity") <= 25)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: small quantities"))
    li.where(col("l_quantity") > 25)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: large quantities"))
    // a FRESH instance over the same directory — reads replay the file
    val reopened = new JsonFileTableVersions(logDir)
    VersionedReader(s, reopened).read(table)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q48: commit-log CHECKPOINT e2e — the metadata-scale twin of q41:
    * three partitioned versions land in the durable log, `checkpoint`
    * folds all but the last commit into a synthetic base (bounding replay
    * cost, the Delta/Iceberg checkpoint move), and a FRESH instance over
    * the rewritten file resolves the read — the oracle hash-checks that
    * checkpointing is invisible to current-state reads. Retention/pointer
    * guards are pinned in the contract spec. */
  def q48LogCheckpoint(s: SparkSession, dir: String): DataFrame = {
    val logDir = Files.createTempDirectory("graft_ckpt_log")
    val log = new JsonFileTableVersions(logDir)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = tempTable(
      "li_ckpt", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_ckpt"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.where(col("l_quantity") <= 10)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: folded away"))
    li.where(col("l_quantity") > 10 && col("l_quantity") <= 30)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: folded away"))
    li.where(col("l_quantity") > 30)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v3: retained"))
    require(log.checkpoint(table.name, keepLast = 1),
      "checkpoint must rewrite a 4-commit log")
    val reopened = new JsonFileTableVersions(logDir)
    require(reopened.updates(table.name).size == 2, // folded base + v3
      "checkpointed history must hold the base and the retained tail only")
    VersionedReader(s, reopened).read(table)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q40: storage GC end-to-end — three versions are written, vacuum with
    * keep-last-2 reclaims v1's directories (grace 0: no writer is running),
    * and the read-back proves the CURRENT version is untouched while time
    * travel within the retention window still works. The oracle sees v3's
    * contents; the v1-dirs-gone assertion lives in `VacuumSpec` (the query
    * result could not distinguish it). */
  def q40Vacuum(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_vacuum", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_vacuum"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.where(col("l_quantity") <= 10)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: doomed"))
    li.where(col("l_quantity") > 10 && col("l_quantity") <= 30)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: retained"))
    val v2Commit = log.updates(table.name).head.id
    li.where(col("l_quantity") > 30)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v3: current"))
    graft.spark.Vacuum.vacuum(
      table, log, s.sessionState.newHadoopConf(), keepLast = 2, graceMs = 0L,
      spark = Some(s))
    // time travel to the retained v2 must still resolve after the vacuum
    require(
      VersionedReader(s, log).readAsOf(table, v2Commit).count() > 0,
      "vacuum must keep the commits inside the retention window readable")
    VersionedReader(s, log).read(table)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q39: the SQL DML stack end-to-end through the DSv2 catalog — a base
    * load followed by `UPDATE`, row-level `DELETE`, and `MERGE INTO`
    * issued as SQL TEXT (`GraftDmlRule` interception), each a
    * partition-granular copy-on-write commit, then the final state read
    * back BY CATALOG NAME. The oracle replays the four statements
    * relationally, so the whole catalog+DML+versioned-write+read stack sits
    * under one hash check. */
  def q39SqlDml(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq39", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq39", log)
    val table = tempTable(
      "ord_dml", PartitionSchema(List(PartitionColumn("o_orderstatus"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create ord_dml"))
    graft.spark.GraftTableCatalog.register("graftq39", table)
    val name = s"graftq39.${table.name.schema}.${table.name.name}"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    orders.where(col("o_orderkey") % 3 =!= 0)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: base load"))
    s.sql(s"UPDATE $name SET o_totalprice = o_totalprice + 1000.0 WHERE o_orderkey % 5 = 0")
    s.sql(s"DELETE FROM $name WHERE o_orderkey % 7 = 0")
    orders.where(col("o_orderstatus") === "O" && col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      .createOrReplaceTempView("q39_merge_src")
    s.sql(
      s"""MERGE INTO $name t USING q39_merge_src src ON t.o_orderkey = src.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |       round(sum(o_totalprice), 2) AS sum_price
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q65: WRITE-AUDIT-PUBLISH via branch/tag refs — the staging pattern
    * production pipelines wrap around every risky write: the new state
    * lands as a DETACHED commit on branch 'audit' (immutable version dirs +
    * history entry, main pointer untouched), audit queries address it as
    * SQL `VERSION AS OF 'audit'` (refs resolve before commit ids), a TAG
    * freezes the pre-publish state for reproducibility, and publish is an
    * atomic pointer swap (checkout). Pinned: the main read NEVER sees
    * unpublished data; the tag still serves the pre-publish state after
    * the swap. */
  def q65Wap(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq65", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq65", log)
    val table = tempTable(
      "ord_wap", PartitionSchema(List(PartitionColumn("o_orderstatus"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create ord_wap"))
    graft.spark.GraftTableCatalog.register("graftq65", table)
    val name = s"graftq65.${table.name.schema}.${table.name.name}"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")

    orders.where(col("o_orderkey") % 2 === 0)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: even keys"))
    val mainCount = s.sql(s"SELECT count(*) FROM $name").head().getLong(0)
    log.setRef(table.name, "prod-v1", log.currentCommit(table.name), isTag = true)

    // WRITE: stage the full recompute on a branch — main pointer unmoved
    orders.versionedInsertIntoBranch(
      ctx, table, user, UpdateMessage("staged: full load"), "audit")
    require(s.sql(s"SELECT count(*) FROM $name").head().getLong(0) == mainCount,
      "main readers must NEVER see unpublished branch data")

    // an unrelated MAIN commit lands while the branch is under audit — the
    // regression this pins: the pointer moving PAST the staged commit in
    // the linear history must not fold the staged ops into main reads
    ctx.metastore.commit(table.name, TableVersions.TableUpdate(
      user, UpdateMessage("unrelated main commit"), java.time.Instant.now(), Nil))
    require(s.sql(s"SELECT count(*) FROM $name").head().getLong(0) == mainCount,
      "a later main commit must not leak staged branch data into main reads")

    // AUDIT: the staged state is addressable by ref name in plain SQL
    val auditCount = s.sql(
      s"SELECT count(*) FROM $name VERSION AS OF 'audit'").head().getLong(0)
    require(auditCount > mainCount, "the audit read must see the staged rows")

    // PUBLISH: attach the staged chain + atomic pointer swap; the tag
    // still serves the old state
    ctx.metastore.publish(table.name, log.refCommit(table.name, "audit"))
    require(s.sql(s"SELECT count(*) FROM $name").head().getLong(0) == auditCount,
      "publish must atomically expose the audited state")
    require(
      s.sql(s"SELECT count(*) FROM $name VERSION AS OF 'prod-v1'").head().getLong(0) == mainCount,
      "the tag must keep serving the pre-publish state")

    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |       round(sum(o_totalprice), 2) AS sum_price
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q64: MERGE-ON-READ deletes (deletion vectors) — the scattered-row
    * DELETE copy-on-write can't afford: predicates touching a few rows in
    * EVERY partition would rewrite the whole table under Q39's DML path;
    * [[graft.spark.DeletionVectors]] instead writes a `(file, pos)`
    * sidecar and an empty-ops commit. Pinned here: the delete commit moves
    * ZERO version pointers (no data files written), two deletes COMPOSE
    * cumulatively through one sidecar, time travel to the pre-delete
    * commit still shows every row, and the DV-aware scan matches the
    * relational oracle. */
  def q64DeletionVectors(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_dv", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_dv"))
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: base load"))
    val preDelete = log.currentCommit(table.name)
    val v1 = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => sys.error(s"unexpected $other")
    }
    val total = graft.spark.DeletionVectors.read(s, log, table).count()

    val n1 = graft.spark.DeletionVectors.delete(
      ctx, log, table, col("l_orderkey") % 97 === 0, user, UpdateMessage("dv: %97 keys"))
    val n2 = graft.spark.DeletionVectors.delete(
      ctx, log, table, col("l_partkey") % 89 === 0, user, UpdateMessage("dv: %89 parts"))
    require(n1 > 0 && n2 > 0, "both scattered deletes must hide rows")
    // the commits moved NO version pointers and wrote no data files
    val after = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => sys.error(s"unexpected $other")
    }
    require(after == v1, "DV commits must not move version pointers")
    // merge-on-READ: physical rows intact; time travel sees the pre-delete state
    require(VersionedReader(s, log).read(table).count() == total,
      "raw scan must still hold every physical row")
    require(graft.spark.DeletionVectors.read(s, log, table, Some(preDelete)).count() == total,
      "time travel must show pre-delete rows")

    graft.spark.DeletionVectors.read(s, log, table)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Q66: TRANSPARENT merge-on-read SQL scans — q64 proved deletion
    * vectors through the Scala API; this drives them through plain SQL:
    * [[graft.spark.GraftDvScanRule]] rewrites every scan of a catalog
    * table carrying a live sidecar into the DV anti-join, so `SELECT`
    * serves the post-delete state with no caller opt-in and `VERSION AS
    * OF` the pre-delete commit still shows every row. Pinned: the SQL
    * count drops by exactly the deleted-row count (vs the same statement
    * pre-delete), SQL time travel sees the full state, and the aggregate
    * matches the relational oracle. */
  def q66SqlDvScan(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq66", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq66", log)
    val table = tempTable(
      "li_dv_sql", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_dv_sql"))
    graft.spark.GraftTableCatalog.register("graftq66", table)
    val name = s"graftq66.${table.name.schema}.${table.name.name}"
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: base load"))
    val preDelete = log.currentCommit(table.name)
    val total = s.sql(s"SELECT count(*) FROM $name").head().getLong(0)

    val n1 = graft.spark.DeletionVectors.delete(
      ctx, log, table, col("l_orderkey") % 101 === 0, user, UpdateMessage("dv: %101 keys"))
    val n2 = graft.spark.DeletionVectors.delete(
      ctx, log, table, col("l_partkey") % 83 === 0, user, UpdateMessage("dv: %83 parts"))
    require(n1 > 0 && n2 > 0, "both scattered deletes must hide rows")
    require(
      s.sql(s"SELECT count(*) FROM $name").head().getLong(0) == total - n1 - n2,
      "plain SQL scans must serve the merge-on-read state")
    require(
      s.sql(s"SELECT count(*) FROM $name VERSION AS OF '${preDelete.id}'")
        .head().getLong(0) == total,
      "SQL time travel to the pre-delete commit must show every row")

    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_items,
         |       round(sum(l_quantity), 2) AS sum_qty,
         |       round(sum(l_extendedprice), 2) AS sum_price
         |FROM $name GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q62: `ALTER TABLE … ADD COLUMN` — the SQL spelling of additive schema
    * evolution (q37 proved the footer-union read path; this is the DDL
    * that drives it through the catalog): v1 inserts the even-keyed rows
    * under the original schema, ALTER widens it with a `disc` column
    * (a metadata-only audit commit — no version pointer moves), v2 inserts
    * the odd-keyed rows WITH the column. Pre-ALTER files never held the
    * column, so their rows read as NULL — `n_disc` counts only v2 rows
    * while `n_items` counts both. */
  def q62AlterAddColumn(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq62", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq62", log)
    val loc = java.nio.file.Files.createTempDirectory("graft_q62").toUri
    val name = "graftq62.g.li_evolve"
    s.sql(
      s"""CREATE TABLE $name (l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag STRING)
         |USING parquet PARTITIONED BY (l_returnflag) LOCATION '$loc'""".stripMargin)
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_discount", "l_returnflag")
      .createOrReplaceTempView("q62_src")
    s.sql(
      s"""INSERT INTO $name
         |SELECT l_orderkey, l_quantity, l_returnflag FROM q62_src WHERE l_orderkey % 2 = 0""".stripMargin)
    s.sql(s"ALTER TABLE $name ADD COLUMN disc DOUBLE")
    s.sql(
      s"""INSERT INTO $name (l_orderkey, l_quantity, l_returnflag, disc)
         |SELECT l_orderkey, l_quantity, l_returnflag, l_discount
         |FROM q62_src WHERE l_orderkey % 2 = 1""".stripMargin)
    val tn = TableName("g", "li_evolve")
    require(log.updates(tn).exists(_.message.content.startsWith("ALTER TABLE ADD COLUMNS")),
      "the evolution must be an auditable history entry")
    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_items, count(disc) AS n_disc,
         |       round(sum(l_quantity), 2) AS sum_qty,
         |       round(sum(coalesce(disc, 0.0)), 4) AS sum_disc
         |FROM $name GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q63: `CREATE TABLE AS SELECT` — the one-statement table-manufacture
    * path: the SELECT lands through the ordinary versioned write as the
    * fresh table's first data commit, partitioned layout included, and the
    * result is immediately queryable (and time-travelable) by name. */
  def q63Ctas(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq63", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq63", log)
    val loc = java.nio.file.Files.createTempDirectory("graft_q63").toUri
    val name = "graftq63.g.ord_ctas"
    Tables.load(s, dir, "orders").createOrReplaceTempView("q63_orders")
    s.sql(
      s"""CREATE TABLE $name USING parquet PARTITIONED BY (o_orderstatus) LOCATION '$loc'
         |AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
         |   FROM q63_orders WHERE o_totalprice > 100000.0""".stripMargin)
    val tn = TableName("g", "ord_ctas")
    require(log.currentVersion(tn) match {
      case PartitionedTableVersion(pvs) => pvs.nonEmpty
      case _                            => false
    }, "CTAS must land as a partitioned versioned commit")
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |       round(sum(o_totalprice), 2) AS sum_price
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q61: CONDITIONAL MERGE — the full clause algebra through SQL text:
    * `WHEN MATCHED AND <cond> THEN UPDATE SET <col> = <expr>` (partial
    * assignment), a second `WHEN MATCHED AND <cond> THEN DELETE`, a
    * conditional `WHEN NOT MATCHED … THEN INSERT (cols) VALUES (exprs)`,
    * and `WHEN NOT MATCHED BY SOURCE … THEN UPDATE` — first matching
    * clause wins per row ([[graft.spark.Merge.mergeConditional]]): a
    * narrow key-column discovery pass scopes the clause join table-wide
    * (the Delta touched-file-discovery analog), one full-outer equi-join
    * evaluates the clauses, and only partitions with actioned rows are
    * rewritten. The oracle replays the clause sequence relationally in
    * the same first-match order. */
  def q61ConditionalMerge(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq61", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq61", log)
    val table = tempTable(
      "ord_condmerge", PartitionSchema(List(PartitionColumn("o_orderstatus"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create ord_condmerge"))
    graft.spark.GraftTableCatalog.register("graftq61", table)
    val name = s"graftq61.${table.name.schema}.${table.name.name}"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    orders.where(col("o_orderkey") % 3 =!= 0)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: base load"))
    val v1 = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => sys.error(s"unexpected $other")
    }
    orders.where(col("o_orderkey") % 2 === 0).createOrReplaceTempView("q61_src")
    s.sql(
      s"""MERGE INTO $name t USING q61_src src ON t.o_orderkey = src.o_orderkey
         |WHEN MATCHED AND t.o_totalprice < 50000.0 THEN UPDATE SET o_totalprice = t.o_totalprice + 100.0
         |WHEN MATCHED AND t.o_totalprice > 400000.0 THEN DELETE
         |WHEN NOT MATCHED AND src.o_orderstatus = 'O'
         |  THEN INSERT (o_orderkey, o_custkey, o_totalprice, o_orderstatus)
         |       VALUES (src.o_orderkey, src.o_custkey, src.o_totalprice + 5.0, src.o_orderstatus)
         |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 5 = 0 THEN UPDATE SET o_totalprice = 0.0
         |""".stripMargin)
    // one commit for the clause apply; history and time travel intact
    require(log.updates(table.name).head.message.content == "MERGE (SQL)",
      "conditional merge must land as one ordinary commit")
    require(VersionedReader(s, log).readAsOf(table, log.updates(table.name).last.id) != null)
    // partition granularity: every partition had actioned rows here, but the
    // per-partition pointers must all have MOVED through the ordinary write
    // path (no wholesale snapshot semantics)
    val after = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => sys.error(s"unexpected $other")
    }
    require(after.keySet == v1.keySet, "clause apply must not add or drop partitions here")
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |       round(sum(o_totalprice), 2) AS sum_price
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q36: MERGE (upsert) — v1 base-loads two thirds of orders partitioned
    * by status; the source then updates every even-keyed 'O' order (+1000
    * price) and inserts the even 'O' orders v1 skipped. Only the 'O'
    * partition is rewritten — 'P'/'F' keep their v1 version dirs (partition
    * granularity pinned in `MergeSpec`). The oracle replays the same upsert
    * relationally. */
  def q36MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "ord_merge", PartitionSchema(List(PartitionColumn("o_orderstatus"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create ord_merge"))
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    orders.where(col("o_orderkey") % 3 =!= 0)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: base load"))
    val src = orders
      .where(col("o_orderstatus") === "O" && col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    graft.spark.Merge.mergeInto(
      ctx, log, table, src, Seq("o_orderkey"), user, UpdateMessage("v2: merge even O orders"))
    VersionedReader(s, log).read(table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Q37: additive schema evolution — v2 refreshes the 'R' partition with a
    * new `qty_band` column that v1's files never had; the merged-schema read
    * surfaces it as NULL for the untouched partitions (count/sum skip them),
    * with the schema union taken from file footers only. */
  def q37SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_evolve", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_evolve"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.where(col("l_quantity") <= 25)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: original schema"))
    li.where(col("l_quantity") > 40 && col("l_returnflag") === "R")
      .withColumn("qty_band", floor(col("l_quantity") / 10).cast("long"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: R refreshed, qty_band added"))
    VersionedReader(s, log).readMergedSchema(table)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        count(col("qty_band")).as("n_banded"),
        coalesce(sum("qty_band"), lit(0L)).as("sum_band"))
      .orderBy("l_returnflag")
  }

  /** Q30: incremental version diff — v1 writes every partition, v2 rewrites
    * ONLY the 'R' partition; `readChanges(v1 → v2)` must surface exactly
    * the new contents of the one partition that moved (partition-level CDC:
    * the input an incremental downstream job processes instead of the full
    * table). The diff itself is metadata-only; just the changed partition's
    * files are scanned. */
  def q30VersionDiff(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_diff", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_diff"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))
    val v1Commit = log.updates(table.name).head.id
    li.where(col("l_returnflag") === "R" && col("l_quantity") > 40)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: refresh R partition"))
    val v2Commit = log.updates(table.name).head.id
    VersionedReader(s, log).readChanges(table, v1Commit, v2Commit)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** E29: PERSISTED IVF index — at 100 TB the ANN index is not rebuilt per
    * query (e3e's shape); it is a pair of VERSIONED TABLES maintained by
    * the same commit machinery as any dataset: `centroids` (snapshot, k
    * rows) and `postings` (PARTITIONED BY cell — the inverted lists).
    * Build writes the e3e quantizer once through `versionedInsertInto`;
    * the query path then reads ONLY the index back: probes come from the
    * persisted (metadata-sized, broadcast) centroid table, the probed cell
    * ids — k·nProbe strings, driver metadata like any partition-pruning
    * list — become a partition filter on the postings read, so each query
    * scans nProbe/k of the corpus files (pinned in `PlanAuditSpec`), and
    * index maintenance inherits commit/rollback/time-travel/vacuum for
    * free. Results are identical to e3e (same quantizer, same probes) —
    * exactly what the shared oracle checks. */
  def e29PersistedIvf(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.GraftFunctions.cosineSim
    val (ctx, log) = freshContext()
    val (cents, assigned, _) = Pipeline.ivfQuantizer(s, dir)

    val postings = tempTable(
      "ivf_postings", PartitionSchema(List(PartitionColumn("cell"))), FileFormat.Parquet)
    ctx.init(postings, user, UpdateMessage("create ivf postings"))
    assigned.withColumn("cell", col("cell").cast("string"))
      .versionedInsertInto(ctx, postings, user, UpdateMessage("v1: inverted lists"))
    val centTable = tempTable("ivf_centroids", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(centTable, user, UpdateMessage("create ivf centroids"))
    cents.versionedInsertInto(ctx, centTable, user, UpdateMessage("v1: quantizer"))

    // query path: ONLY the persisted index below this line
    val rcents = VersionedReader(s, log).read(centTable)
    val emb = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
    val byVec = Window.partitionBy("vec_id").orderBy(desc("sim"), asc("cell"))
    val probes = emb.where(col("vec_id") < 5)
      .crossJoin(broadcast(rcents))
      .withColumn("sim", cosineSim(col("embedding"), col("centroid")))
      .withColumn("rk", row_number().over(byVec))
      .where(col("rk") <= 2)
      .select(
        col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("cell").cast("string").as("cell"))
    // the probe list: ≤ k·nProbe cell ids to the driver — metadata, the
    // IVF analogue of a partition-pruning predicate
    val cells = probes.select("cell").distinct().collect().map(_.getString(0))
    val scoped = VersionedReader(s, log).read(postings)
      .where(col("cell").isin(cells.toIndexedSeq: _*))
    val cands = scoped.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosineSim(col("embedding"), col("qvec")))
    Pipeline.topKPerQuery(cands, 5)
      .select(col("qid"), col("rk"), col("vec_id"), round(col("cos"), 5).as("cos_sim"))
      .orderBy("qid", "rk")
  }

  /** Q60: TIME-TRAVELED data skipping — sidecars follow their STATE, not
    * the table, so pruned reads compose with time travel: the v1 read
    * below resolves v1's sidecar (`_stats/commit-<v1>`) AND v1's data
    * dirs, even though the current pointer names v2 (whose R partition
    * holds different rows). The oracle checks against the FULL v1
    * contents — if either the sidecar or the file list leaked from the
    * current state, the R numbers mismatch. Sidecar maintenance stays
    * incremental across the commits ([[graft.spark.FileStats.updateZoneMaps]]). */
  def q60TimeTravelSkipping(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_ttskip", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_ttskip"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    def clustered(df: DataFrame) = df
      .repartitionByRange(8, col("l_returnflag"), col("l_orderkey"))
      .sortWithinPartitions("l_returnflag", "l_orderkey")
    clustered(li).versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))
    val v1 = log.currentCommit(table.name)
    graft.spark.FileStats.writeZoneMaps(s, log, table, Seq("l_orderkey"))
    clustered(li.where(col("l_returnflag") === "R" && col("l_quantity") > 40))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: refresh R"))
    graft.spark.FileStats.updateZoneMaps(s, log, table, v1, Seq("l_orderkey"))

    graft.spark.FileStats
      .readSkipping(s, log, table, "l_orderkey", 2000L, 9000L, asOf = Some(v1))
      .where(col("l_orderkey").between(2000L, 9000L))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q59: INCREMENTAL stats maintenance — the write-pipeline half of the
    * data-skipping story at 100 TB: recomputing a table's zone-map sidecar
    * from scratch after every commit costs O(table), which dwarfs the
    * commit itself when a merge touched one partition.
    * [[graft.spark.FileStats.updateZoneMaps]] diffs the partition→version
    * maps of the two commits (metadata), rescans ONLY the moved
    * partitions, and carries the previous sidecar's rows forward for the
    * rest. The query asserts (a) the diff saw exactly the refreshed
    * partition and (b) the incremental sidecar is ROW-IDENTICAL to a full
    * recompute — then answers a zone-pruned read off it, which the oracle
    * checks relationally. */
  def q59IncrementalStats(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_incstats", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_incstats"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    def clustered(df: DataFrame) = df
      .repartitionByRange(8, col("l_returnflag"), col("l_orderkey"))
      .sortWithinPartitions("l_returnflag", "l_orderkey")
    clustered(li).versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))
    val v1 = log.currentCommit(table.name)
    graft.spark.FileStats.writeZoneMaps(s, log, table, Seq("l_orderkey"))

    // one partition refreshes; the sidecar follows incrementally
    clustered(li.where(col("l_returnflag") === "R" && col("l_quantity") > 40))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: refresh R"))
    val moved = partitionVersions(log, table).collect {
      case (p, v) if p.toString == "l_returnflag=R" => v
    }
    require(moved.nonEmpty, "the R partition must have moved")
    graft.spark.FileStats.updateZoneMaps(s, log, table, v1, Seq("l_orderkey"))

    // the incremental sidecar must equal a from-scratch recompute exactly
    // (both O(#files) metadata frames — the compare is driver-cheap)
    val incr = graft.spark.FileStats.loadZoneMaps(s, log, table)
    val full = graft.spark.FileStats.zoneMaps(
      VersionedReader(s, log).read(table), Seq("l_orderkey"),
      carryCols = Seq("l_returnflag"))
    require(
      incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty,
      "incremental sidecar diverged from the full recompute")

    graft.spark.FileStats
      .readSkipping(s, log, table, "l_orderkey", 2000L, 9000L)
      .where(col("l_orderkey").between(2000L, 9000L))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q58: BLOOM-FILTER data skipping — the third skipping tier, for the
    * regime the exact value lists can't serve: a point probe on a
    * HIGH-CARDINALITY key (every file's distinct count far above the
    * dv cap, so q56's lists store NULL) against a hash layout (zones span
    * the domain). Each file carries a fixed 64-long bloom
    * ([[graft.spark.FileStats.BloomBits]]); `readSkippingEquals` tiers
    * dv-list → bloom → keep, so the probe scans the one true file plus
    * only bloom false positives — asserted below at under half the files,
    * and the rows still hash-match the unpruned relational answer. */
  def q58BloomSkipping(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable("part_bloom", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create part_bloom"))
    Tables.load(s, dir, "part")
      .select("p_partkey", "p_brand", "p_type", "p_size", "p_retailprice")
      .repartition(32, col("p_partkey")) // hash layout, ~n/32 distinct keys per file
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: key-hash layout"))
    graft.spark.FileStats.writeZoneMaps(
      s, log, table, Seq("p_partkey"),
      distinctCols = Seq("p_partkey"), // overflows the cap → NULL → bloom tier
      bloomCols = Seq("p_partkey"))
    val pruned = graft.spark.FileStats
      .readSkippingEquals(s, log, table, "p_partkey", Seq(42L, 1337L))
    val total = VersionedReader(s, log).read(table).inputFiles.length
    // the 4096-bit/4-hash bloom stays discriminating up to ~430 distinct
    // values per file; above that it saturates and (correctly, as a
    // superset) keeps nearly everything. Gate the effectiveness assertion
    // on the measured per-file cardinality (p_partkey is unique per row,
    // so the sidecar's n_rows IS the per-file distinct count) instead of
    // hard-failing at a scale factor the geometry was never sized for.
    val maxPerFile = graft.spark.FileStats.loadZoneMaps(s, log, table)
      .agg(max("n_rows")).head.getLong(0)
    if (maxPerFile <= 430)
      require(pruned.inputFiles.length < total / 2,
        s"bloom must prune a point probe on a high-cardinality key: " +
          s"${pruned.inputFiles.length} of $total scanned")
    else
      System.err.println(
        s"[graft] q58: bloom saturated ($maxPerFile distinct/file > 430 capacity); " +
          s"pruning ratio ${pruned.inputFiles.length}/$total reported, correctness still asserted")
    pruned.where(col("p_partkey").isin(42L, 1337L))
      .select("p_partkey", "p_brand", "p_type", "p_size", "p_retailprice")
      .orderBy("p_partkey")
  }

  /** Q57: MULTI-WRITER commit semantics as a driver-visible query, over
    * the DURABLE file log (the medium real concurrent writers share —
    * its lock/torn-tail machinery is contention-tested in
    * `TableVersionsContractSpec`/`JsonFileTableVersions` suites):
    *
    *  - DISJOINT-PARTITION writers interleave freely: both derived their
    *    input before either committed, both commits land, the final state
    *    is their union — partition commits compose by construction.
    *  - SNAPSHOT writers race: two writers observe the same commit; the
    *    first [[graft.spark.VersionContext.DatasetVersionOps.versionedInsertIntoIf]]
    *    wins, the second is REFUSED (optimistic-concurrency check under
    *    the table lock — a loud conflict, not a silent lost update), the
    *    log stays uncorrupted, and the loser's retry against the fresh
    *    commit succeeds.
    *
    * The oracle replays the surviving sequence relationally: the union of
    * both partition writers, and the retry's snapshot contents. */
  /** Q72: READ-MODIFY-WRITE OCC with semantic conflict detection
    * ([[graft.core.TableVersions.commitRebase]]) — the transaction
    * discipline COW rewrites need beyond q57's partition-compose and
    * commitIf races. A rewrite derives from the state it read; by commit
    * time other writers may have landed. The rebase commit checks the
    * INTERVENING commits' partition scope against its own:
    *  - DISJOINT → the commit REBASES onto the new head (both effects
    *    survive — 1000 pipeline writers on distinct partitions never
    *    serialize through conflicts);
    *  - OVERLAPPING → loud [[graft.core.TableVersions.ConcurrentWriteException]]
    *    and NOTHING committed — the lost-update window of a stale rewrite,
    *    closed (plain commit would silently clobber the racer's write).
    *
    * The oracle replays the surviving rewrites relationally: each
    * partition's final content is exactly the filter its LAST successful
    * writer applied; the refused stale rewrite leaves no trace. */
  /** Q76: AUTO-COMPACTION ([[graft.spark.Compaction.autoCompact]]) —
    * small-file-pressure-driven OPTIMIZE: only partitions whose current
    * version holds ≥ minFiles data files rewrite; a tightly-written
    * partition keeps its pointer, a second pass is a commitless no-op.
    * Detection = one driver-side listing per partition (the
    * graft_files bound, no data read). The query fragments two of three
    * partitions, auto-compacts, asserts exactly those two rewrote to one
    * file each and the third's pointer never moved — then proves
    * row-invisibility via the relational aggregate the oracle replays. */
  def q76AutoCompact(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_auto", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_auto"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    li.repartition(8)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))
    // partition N rewritten tight — stays below the pressure threshold
    li.where(col("l_returnflag") === "N").repartition(2)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: N tight"))
    val before = log.currentVersion(table.name)
      .asInstanceOf[PartitionedTableVersion].partitionVersions

    val report = graft.spark.Compaction.autoCompact(
      s, ctx, table, user, minFiles = 4)
    require(report.partitions.map(_.hivePath).toSet ==
      Set("l_returnflag=A", "l_returnflag=R"),
      s"exactly the pressured partitions must compact, got ${report.partitions}")
    val after = log.currentVersion(table.name)
      .asInstanceOf[PartitionedTableVersion].partitionVersions
    val tight = Partition(ColumnValue(PartitionColumn("l_returnflag"), "N"))
    require(after(tight) == before(tight),
      "the below-threshold partition's pointer must not move")
    require(!graft.spark.Compaction.autoCompact(s, ctx, table, user, minFiles = 4)
      .compactedAnything, "a second pass over packed partitions must be a no-op")

    VersionedReader(s, log).read(table)
      .groupBy(col("l_returnflag").as("grp"))
      .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("grp")
  }

  /** Q75: TYPE WIDENING ([[graft.spark.ColumnMapping.widen]]) — ALTER
    * COLUMN TYPE as metadata-only evolution: files written before the
    * widen keep their narrow physical type (int/float), post-widen writes
    * store the wide type (bigint/double — including values only the wide
    * type can hold), and every scan of a widened state requests the wide
    * schema so the parquet reader upcasts the old files. The query builds
    * both generations, asserts the narrow type survives under time travel,
    * and aggregates across the mixed-width files; the oracle replays both
    * generations' values relationally (min/max on the float-cast column —
    * order-independent, so no float-summation hazard). */
  def q75TypeWidening(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "part_wide", PartitionSchema(List(PartitionColumn("par"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create part_wide"))
    val part = Tables.load(s, dir, "part")
    // v1: the NARROW generation (int sizes, float prices), even keys
    part.where(col("p_partkey") % 2 === 0)
      .select(
        col("p_partkey"),
        col("p_size").cast("int").as("n"),
        col("p_retailprice").cast("float").as("x"),
        lit("even").as("par"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: narrow even"))
    val preWiden = log.currentCommit(table.name)

    graft.spark.ColumnMapping.widen(s, ctx, table, "n", "bigint", user)
    graft.spark.ColumnMapping.widen(s, ctx, table, "x", "double", user)

    // v2: the WIDE generation — values only bigint/double can hold
    part.where(col("p_partkey") % 2 === 1)
      .select(
        col("p_partkey"),
        (col("p_size").cast("long") * 1000000000L).as("n"),
        col("p_retailprice").as("x"),
        lit("odd").as("par"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: wide odd"))

    val mapped = graft.spark.ColumnMapping.read(s, log, table)
    require(mapped.schema("n").dataType.catalogString == "bigint" &&
      mapped.schema("x").dataType.catalogString == "double",
      "the widened state must serve the wide types")
    require(graft.spark.ColumnMapping.read(s, log, table, Some(preWiden))
      .schema("n").dataType.catalogString == "int",
      "time travel to the pre-widen commit must read the narrow type")

    mapped.groupBy(col("par"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum("n").as("sum_n"),
        min("x").as("min_x"),
        max("x").as("max_x"))
      .orderBy("par")
  }

  /** Q74: METADATA TABLES ([[graft.spark.GraftMetadataTables]]) — the
    * `graft_partitions` / `graft_files` TVFs (Iceberg `table$partitions` /
    * `table$files` parity). The value checked is INVENTORY COMPLETENESS:
    * the files the TVF lists for a state must be EXACTLY what a versioned
    * read of that state scans (asserted against `inputFiles`), and reading
    * those listed files per partition must reproduce the state's row
    * counts — at the current head AND time-traveled to a tag. The oracle
    * replays both states' per-partition counts relationally. */
  def q74MetadataTables(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq74", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq74", log)
    val table = tempTable(
      "li_meta", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_meta"))
    graft.spark.GraftTableCatalog.register("graftq74", table)
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.where(col("l_orderkey") % 2 === 0)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: even keys"))
    log.setRef(table.name, "v1", log.currentCommit(table.name), isTag = true)
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v2: full load"))

    val fqn = s"graftq74.${table.name.schema}.${table.name.name}"
    def normalize(path: String): String =
      new org.apache.hadoop.fs.Path(path).toUri.getPath
    def inventory(stateArg: String): Map[String, Seq[String]] =
      s.sql(s"SELECT partition, file FROM graft_files('$fqn'$stateArg)")
        .collect().toSeq
        .groupBy(_.getString(0))
        .map { case (p, rows) => p -> rows.map(_.getString(1)) }

    // completeness vs the reader: the TVF's current-state file set must be
    // exactly what a versioned scan reads (normalized: URI scheme forms)
    val current = inventory("")
    val reader = VersionedReader(s, log)
    require(
      current.values.flatten.map(normalize).toSet ==
        reader.read(table).inputFiles.map(normalize).toSet,
      "graft_files must list exactly the files a versioned read scans")
    // partitions TVF: metadata-only fold, one row per partition
    val partsListed = s.sql(s"SELECT partition FROM graft_partitions('$fqn')")
      .collect().map(_.getString(0)).toSet
    require(partsListed == current.keySet,
      "graft_partitions and graft_files must agree on the partition set")
    require(
      s.sql(s"SELECT sum(size_bytes) FROM graft_files('$fqn')")
        .collect().head.getLong(0) > 0, "file sizes must be real")

    // per-partition row counts from reading EXACTLY the listed files —
    // current head and the time-traveled 'v1' tag
    def counts(section: String, inv: Map[String, Seq[String]]): Seq[(String, String, Long)] =
      inv.toSeq.sortBy(_._1).map { case (p, files) =>
        val grp = p.stripPrefix("l_returnflag=")
        (section, grp, s.read.parquet(files: _*).count())
      }
    val rows = counts("current", current) ++ counts("v1", inventory(", 'v1'"))
    import s.implicits._
    rows.toDF("section", "grp", "n_rows").orderBy("section", "grp")
  }

  /** Q73: SHALLOW CLONE ([[graft.spark.ShallowClone]]) — a zero-copy fork
    * whose first commit references the source's immutable version dirs.
    * The query exercises the full isolation contract: clone at an OLD
    * commit (sees that state, not the source head), write to the clone
    * (the source's pointer and contents must not move), and read both
    * sides. The oracle replays the two lineages relationally: the source
    * is its latest write; the clone is the cloned state with one
    * partition replaced by the clone's own write. */
  def q73ShallowClone(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val src = tempTable(
      "ord_cl", PartitionSchema(List(PartitionColumn("o_orderstatus"))), FileFormat.Parquet)
    ctx.init(src, user, UpdateMessage("create ord_cl"))
    val ord = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    ord.where(col("o_orderkey") % 2 === 0)
      .versionedInsertInto(ctx, src, user, UpdateMessage("v1: even keys"))
    val v1 = log.currentCommit(src.name)
    ord.versionedInsertInto(ctx, src, user, UpdateMessage("v2: all orders"))

    // fork at v1 — O(#partitions) metadata, zero data movement
    val clone = graft.spark.ShallowClone.clone(
      s, ctx, src, TableName("tmp", "ord_cl_fork"), user, Some(v1))
    require(log.refs(src.name).contains("clone:tmp.ord_cl_fork"),
      "the clone link must pin the source state via a tag")

    // the clone's write replaces ITS partition 'O'; the source must not move
    val srcHead = log.currentCommit(src.name)
    ord.where(col("o_orderstatus") === "O" && col("o_orderkey") % 2 === 1)
      .versionedInsertInto(ctx, clone, user, UpdateMessage("clone: O := odd keys"))
    require(log.currentCommit(src.name) == srcHead,
      "a clone write must never move the source's pointer")

    val reader = VersionedReader(s, log)
    val srcAgg = reader.read(src)
      .groupBy(col("o_orderstatus").as("grp"))
      .agg(count(lit(1)).as("n_rows"), round(sum("o_totalprice"), 2).as("total"))
      .select(lit("source").as("section"), col("grp"), col("n_rows"), col("total"))
    val cloneAgg = reader.read(clone)
      .groupBy(col("o_orderstatus").as("grp"))
      .agg(count(lit(1)).as("n_rows"), round(sum("o_totalprice"), 2).as("total"))
      .select(lit("clone").as("section"), col("grp"), col("n_rows"), col("total"))
    srcAgg.unionByName(cloneAgg).orderBy("section", "grp")
  }

  /** Q73b: SHALLOW CLONE of a table with LIVE DELETION VECTORS — the
    * commit-anchored metadata carry: the source's resolved DV pair state
    * materializes as a complete sidecar under the clone's own commit id
    * at clone time, so the cloned read keeps hiding deleted rows, and
    * each side's post-fork deletes anchor in its own lineage — invisible
    * to the other (asserted in-query both ways). The oracle replays both
    * lineages relationally over the final states. */
  def q73bCloneDv(s: SparkSession, dir: String): DataFrame = {
    import graft.spark.DeletionVectors
    val (ctx, log) = freshContext()
    val src = tempTable(
      "ord_cldv", PartitionSchema(List(PartitionColumn("o_orderstatus"))), FileFormat.Parquet)
    ctx.init(src, user, UpdateMessage("create ord_cldv"))
    val ord = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    ord.versionedInsertInto(ctx, src, user, UpdateMessage("v1: all orders"))

    // live vectors at clone time: %3 rows hidden merge-on-read
    DeletionVectors.delete(
      ctx, log, src, col("o_orderkey") % 3 === 0, user, UpdateMessage("dv: %3"))

    val clone = graft.spark.ShallowClone.clone(
      s, ctx, src, TableName("tmp", "ord_cldv_fork"), user)

    // post-fork deletes diverge: %5 on the source only, %7 on the clone
    // only — neither side may see the other's
    DeletionVectors.delete(
      ctx, log, src, col("o_orderkey") % 5 === 0, user, UpdateMessage("dv: src %5"))
    DeletionVectors.delete(
      ctx, log, clone, col("o_orderkey") % 7 === 0, user, UpdateMessage("dv: clone %7"))

    val srcRows = DeletionVectors.read(s, log, src)
    val cloneRows = DeletionVectors.read(s, log, clone)
    val srcBad = srcRows.where(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 5 === 0).count()
    val cloneBad = cloneRows.where(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 7 === 0).count()
    require(srcBad == 0 && cloneBad == 0,
      s"carried + own vectors must hide exactly each side's rows (src=$srcBad clone=$cloneBad)")
    require(cloneRows.where(col("o_orderkey") % 5 === 0).count() > 0,
      "the source's post-fork delete must NOT leak into the clone")
    require(srcRows.where(col("o_orderkey") % 7 === 0).count() > 0,
      "the clone's post-fork delete must NOT leak into the source")

    def agg(section: String, df: DataFrame): DataFrame = df
      .groupBy(col("o_orderstatus").as("grp"))
      .agg(count(lit(1)).as("n_rows"), round(sum("o_totalprice"), 2).as("total"))
      .select(lit(section).as("section"), col("grp"), col("n_rows"), col("total"))
    agg("source", srcRows).unionByName(agg("clone", cloneRows))
      .orderBy("section", "grp")
  }

  def q72OccRebase(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_rb", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_rb"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: all partitions"))

    // writer A derives a rewrite of partition A from this state...
    val aRead = log.currentCommit(table.name)
    // ...writer B lands a DISJOINT rewrite (partition N) first...
    li.where(col("l_returnflag") === "N" && col("l_quantity") <= 25)
      .versionedInsertInto(ctx, table, user, UpdateMessage("writer-B: N := qty<=25"))
    // ...and A's commit REBASES over it — both effects must survive
    li.where(col("l_returnflag") === "A" && col("l_quantity") > 25)
      .versionedInsertIntoRebase(
        ctx, table, user, UpdateMessage("writer-A: A := qty>25 (rebased)"), aRead)
    require(log.updates(table.name).head.message.content.startsWith("writer-A"),
      "the rebased commit must land as head")

    // a racer rewrites partition R, then a STALE rewrite of R (derived
    // before the racer) must be refused loudly, committing nothing
    val cRead = log.currentCommit(table.name)
    li.where(col("l_returnflag") === "R" && col("l_orderkey") % 2 === 0)
      .versionedInsertInto(ctx, table, user, UpdateMessage("racer: R := even keys"))
    val refused =
      try {
        li.where(col("l_returnflag") === "R" && col("l_orderkey") % 2 === 1)
          .versionedInsertIntoRebase(
            ctx, table, user, UpdateMessage("stale R rewrite"), cRead)
        false
      } catch { case _: TableVersions.ConcurrentWriteException => true }
    require(refused, "a stale rewrite of a concurrently-rewritten partition must be refused")
    require(log.updates(table.name).head.message.content.startsWith("racer"),
      "the refused rewrite must leave the head (and the state) untouched")

    VersionedReader(s, log).read(table)
      .groupBy(col("l_returnflag").as("grp"))
      .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 2).as("total"))
      .orderBy("grp")
  }

  def q57MultiWriterConflict(s: SparkSession, dir: String): DataFrame = {
    val logDir = Files.createTempDirectory("graft_q57_log")
    val log = JsonFileTableVersions(logDir.toString)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))

    // A: disjoint-partition writers
    val part = tempTable(
      "li_mw", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(part, user, UpdateMessage("create li_mw"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.where(col("l_returnflag") === "A")
      .versionedInsertInto(ctx, part, user, UpdateMessage("writer-1: A partition"))
    li.where(col("l_returnflag") =!= "A")
      .versionedInsertInto(ctx, part, user, UpdateMessage("writer-2: N+R partitions"))
    require(log.updates(part.name).size == 3, "init + both partition writers must land")

    // B: snapshot writers racing from the same observed commit
    val snap = tempTable("ord_mw", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(snap, user, UpdateMessage("create ord_mw"))
    val ord = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    ord.where(col("o_orderkey") % 2 === 0)
      .versionedInsertInto(ctx, snap, user, UpdateMessage("v1: base"))
    val observed = log.currentCommit(snap.name) // BOTH writers read this state
    val winner = ord.where(col("o_orderstatus") === "F")
      .versionedInsertIntoIf(ctx, snap, user, UpdateMessage("writer-A: F orders"), observed)
    require(winner.isDefined, "writer A raced nobody and must commit")
    val loser = ord.where(col("o_orderstatus") === "O")
      .versionedInsertIntoIf(ctx, snap, user, UpdateMessage("writer-B: O orders"), observed)
    require(loser.isEmpty, "writer B must LOSE the optimistic race, not last-write-win")
    require(log.updates(snap.name).head.message.content == "writer-A: F orders",
      "the conflict must leave writer A's commit current and the log uncorrupted")
    val retried = ord.where(col("o_orderstatus") === "O")
      .versionedInsertIntoIf(
        ctx, snap, user, UpdateMessage("writer-B: retry"), log.currentCommit(snap.name))
    require(retried.isDefined, "writer B's retry on the fresh commit must succeed")

    val reader = VersionedReader(s, log)
    val pa = reader.read(part)
      .groupBy(col("l_returnflag").as("grp"))
      .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 2).as("total"))
      .select(lit("partitioned").as("section"), col("grp"), col("n_rows"), col("total"))
    val sa = reader.read(snap)
      .groupBy(col("o_orderstatus").as("grp"))
      .agg(count(lit(1)).as("n_rows"), round(sum("o_totalprice"), 2).as("total"))
      .select(lit("snapshot").as("section"), col("grp"), col("n_rows"), col("total"))
    pa.unionByName(sa).orderBy("section", "grp")
  }

  /** Q56: EQUALITY data skipping — the pruning dimension zones can't
    * cover: `col = 'x'` against hash-clustered (or unclustered) data has
    * every file's `[min, max]` spanning the whole domain, so range zones
    * keep everything; the per-file distinct-value sketches
    * ([[graft.spark.FileStats.zoneMaps]] `distinctCols` — exact sorted
    * lists under a cardinality cap, the ORC-dictionary trick) still drop
    * every file whose value list misses the probe. The layout here is the
    * adversarial one: `part` hash-repartitioned by brand, which pins all
    * of a brand's rows into ONE of 8 files while leaving zone ranges
    * fully overlapping — the probe must scan exactly that file (asserted
    * below), and the rows hash-match the unpruned relational answer. */
  def q56EqualitySkipping(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable("part_dvskip", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create part_dvskip"))
    Tables.load(s, dir, "part")
      .select("p_partkey", "p_brand", "p_type", "p_retailprice")
      .repartition(8, col("p_brand")) // hash layout: zones span the domain
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: brand-hash-clustered"))
    graft.spark.FileStats.writeZoneMaps(
      s, log, table, Seq("p_brand"), distinctCols = Seq("p_brand"))
    val pruned = graft.spark.FileStats
      .readSkippingEquals(s, log, table, "p_brand", Seq("Brand#1"))
    val total = VersionedReader(s, log).read(table).inputFiles.length
    // scale-independent sharp check: the kept-file count must equal what
    // the SKETCHES say (files whose dv list holds the probe, plus any
    // whose list overflowed the cap to NULL) — at this layout that is 1
    // of 8, but the assertion derives the expectation from the sidecar
    // instead of hard-coding the scale factor's file geometry
    val expected = graft.spark.FileStats.loadZoneMaps(s, log, table)
      .where(col("dv_p_brand").isNull || array_contains(col("dv_p_brand"), "Brand#1"))
      .count()
    require(pruned.inputFiles.length == expected && expected < total,
      s"equality sketch must prune exactly to the sketch-kept files: " +
        s"${pruned.inputFiles.length} scanned, $expected expected, $total total")
    pruned.where(col("p_brand") === "Brand#1")
      .agg(
        count(lit(1)).as("n_parts"),
        round(sum("p_retailprice"), 2).as("sum_price"),
        count_distinct(col("p_type")).as("n_types"))
  }

  /** E30: INCREMENTAL IVF index maintenance — the missing piece after e29:
    * a corpus append must cost O(batch), never a full index rebuild
    * (O(corpus) per ingest is the production scale-killer for a 100 TB ANN
    * story). The coarse quantizer is trained ONCE and persisted (standard
    * IVF practice — retraining is a rare offline event, not an ingest-path
    * step); ingest then composes the e17 assignment machinery with Q36's
    * MERGE:
    *
    *  1. the arriving vectors cross-join the PERSISTED broadcast centroid
    *     table and take the argmax cell (row-local scoring, window keyed
    *     by vec_id — O(batch·k) work, spreads over all reducers);
    *  2. [[graft.spark.Merge.mergeInto]] upserts them into the
    *     cell-partitioned postings table — `cell` is the partition key, so
    *     ONLY the batch's cells are read and rewritten; every untouched
    *     cell keeps its version pointer (asserted below via the log, not
    *     just claimed), and the ingest is one ordinary commit with
    *     time-travel/rollback for free.
    *
    * The query path is byte-identical to e29 over the merged index, so the
    * shared e3e oracle ALSO proves incremental == full rebuild: the final
    * postings must equal what a from-scratch build over the whole corpus
    * produces. */
  def e30IvfIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.GraftFunctions.cosineSim
    val (ctx, log) = freshContext()
    val (cents, assigned, _) = Pipeline.ivfQuantizer(s, dir)
    val emb = Tables.load(s, dir, "embeddings")

    // the arriving batch: the vectors that quantize into cells 8/9 (labels
    // alone don't bound the assignment — the synthetic clusters overlap),
    // so the touched-partition contract is observable: 2 of 10 inverted
    // lists should move, 8 must not
    val newIds = assigned.where(col("cell") >= 8).select("vec_id")

    val postings = tempTable(
      "ivf_postings_inc", PartitionSchema(List(PartitionColumn("cell"))), FileFormat.Parquet)
    ctx.init(postings, user, UpdateMessage("create ivf postings"))
    val centTable = tempTable("ivf_centroids_inc", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(centTable, user, UpdateMessage("create ivf centroids"))
    cents.versionedInsertInto(ctx, centTable, user, UpdateMessage("v1: quantizer"))
    // initial build: index the BASE corpus only (the one-time O(corpus) job)
    assigned.join(newIds, Seq("vec_id"), "left_anti")
      .withColumn("cell", col("cell").cast("string"))
      .versionedInsertInto(ctx, postings, user, UpdateMessage("v1: base inverted lists"))
    val baseVersions = partitionVersions(log, postings)

    // ---- the ingest path: O(batch) from here ----
    val rcents = VersionedReader(s, log).read(centTable)
    val byVec = Window.partitionBy("vec_id").orderBy(desc("sim"), asc("cell"))
    val newPostings = emb.join(newIds, Seq("vec_id"))
      .select("vec_id", "embedding")
      .crossJoin(broadcast(rcents))
      .withColumn("sim", cosineSim(col("embedding"), col("centroid")))
      .withColumn("rk", row_number().over(byVec))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("embedding"), col("cell").cast("string").as("cell"))
    graft.spark.Merge.mergeInto(
      ctx, log, postings, newPostings, Seq("vec_id"),
      user, UpdateMessage("v2: ingest batch into touched cells"))

    // the incremental contract, checked against the COMMIT LOG: the cells
    // the batch landed in moved; every other inverted list kept its exact
    // version pointer (no full rebuild happened)
    val afterVersions = partitionVersions(log, postings)
    val moved = afterVersions.collect {
      case (p, v) if !baseVersions.get(p).contains(v) => p
    }.toSet
    val batchCells = newPostings.select("cell").distinct()
      .collect().map(r => s"cell=${r.getString(0)}").toSet // ≤ k ids: metadata
    require(moved.map(_.toString) == batchCells,
      s"ingest must rewrite exactly the batch's cells: moved $moved, batch $batchCells")
    require(afterVersions.size > moved.size,
      "no inverted list survived untouched — the ingest degenerated to a rebuild")

    // query path: identical to e29 over the incrementally maintained index
    // (same byVec spec — its tie-break rule is load-bearing for the
    // incremental == rebuild oracle proof)
    val probes = emb.select("vec_id", "embedding").where(col("vec_id") < 5)
      .crossJoin(broadcast(rcents))
      .withColumn("sim", cosineSim(col("embedding"), col("centroid")))
      .withColumn("rk", row_number().over(byVec))
      .where(col("rk") <= 2)
      .select(
        col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("cell").cast("string").as("cell"))
    val cells = probes.select("cell").distinct().collect().map(_.getString(0))
    val scoped = VersionedReader(s, log).read(postings)
      .where(col("cell").isin(cells.toIndexedSeq: _*))
    val cands = scoped.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosineSim(col("embedding"), col("qvec")))
    Pipeline.topKPerQuery(cands, 5)
      .select(col("qid"), col("rk"), col("vec_id"), round(col("cos"), 5).as("cos_sim"))
      .orderBy("qid", "rk")
  }

  /** The partition→version map of a partitioned table's current state
    * (shared by the e30/s12 only-touched-partitions assertions). */
  private[queries] def partitionVersions(
      log: TableVersions, table: TableDefinition): Map[Partition, Version] =
    log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs.toMap
      case other => sys.error(s"expected a partitioned state, got $other")
    }

  /** Q55: the SQL spelling of the row-level change feed — a
    * `table_changes('cat.db.t', c1, c2)` table-valued function inside
    * ordinary SQL text ([[graft.spark.GraftTableChanges]] rewrites the TVF
    * to [[graft.spark.ChangeFeed.read]] at resolution): v1 writes every
    * partition, v2 rewrites only 'R', and the statement aggregates the
    * feed by `_change_type` — the moved partition's old contents surface
    * as `delete`, its new contents as `insert`, untouched partitions
    * contribute nothing. Metadata-only diff, single-partition scans — now
    * reachable from `spark.sql`. */
  def q55SqlTableChanges(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq55", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq55", log)
    val table = tempTable(
      "li_sqldiff", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_sqldiff"))
    graft.spark.GraftTableCatalog.register("graftq55", table)
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))
    val v1Commit = log.updates(table.name).head.id
    li.where(col("l_returnflag") === "R" && col("l_quantity") > 40)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: refresh R partition"))
    val v2Commit = log.updates(table.name).head.id
    s.sql(
      s"""SELECT _change_type, l_returnflag, count(*) AS n_items,
         |       round(sum(l_quantity), 2) AS sum_qty
         |FROM table_changes('graftq55.${table.name.schema}.${table.name.name}',
         |                   '${v1Commit.id}', '${v2Commit.id}')
         |GROUP BY _change_type, l_returnflag
         |ORDER BY _change_type, l_returnflag""".stripMargin)
  }

  /** Q67: the DELETION-VECTOR-AWARE change feed — the round-11 verdict's
    * top gap closed and oracle-checked. v1 loads every partition, v2
    * rewrites only 'R', then a DV DELETE hides scattered rows of the
    * UNTOUCHED 'A' partition (an empty-ops commit — no pointer moves, the
    * exact case the partition-granular diff was blind to). The feed over
    * (v1 → head) must carry: old-'R' rows as `delete`, new-'R' rows as
    * `insert`, and the newly-hidden 'A' rows as `delete` — and replaying
    * it over the v1 state must reconstruct the current state exactly
    * (asserted here; the oracle then value-checks the per-type
    * aggregates). Only the moved partition and the one DV-affected
    * partition are scanned. */
  def q67DvChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_cdf", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_cdf"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))
    val v1Commit = log.updates(table.name).head.id
    li.where(col("l_returnflag") === "R" && col("l_quantity") > 40)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: refresh R partition"))
    graft.spark.DeletionVectors.delete(
      ctx, log, table,
      col("l_returnflag") === "A" && col("l_orderkey") % 10 === 0,
      user, UpdateMessage("dv: scattered delete in the untouched partition"))
    val head = log.currentCommit(table.name)

    val feed = graft.spark.ChangeFeed.read(s, log, table, Some(v1Commit), head)
    // replay contract, asserted in-query: from-state + feed == to-state
    val replayed = graft.spark.ChangeFeed.replay(
      graft.spark.DeletionVectors.read(s, log, table, Some(v1Commit)), feed)
    val now = graft.spark.DeletionVectors.read(s, log, table, Some(head))
    require(replayed.exceptAll(now).isEmpty && now.exceptAll(replayed).isEmpty,
      "change-feed replay must reconstruct the current state")

    feed
      .groupBy("_change_type", "l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("_change_type", "l_returnflag")
  }

  /** Q68: WRITE-PATH CONSTRAINTS (NOT NULL / CHECK) — invariants recorded
    * in table metadata and enforced on every versioned write
    * ([[graft.spark.Constraints]]): the gate rides the write's own pass
    * (`raise_error` inside the staging job — zero extra scans), violations
    * reject loudly PRE-COMMIT leaving only never-referenced staging dirs.
    * Here: a quantity-band CHECK and a NOT NULL admit the conforming
    * lineitem slice, a violating batch is proven to reject without moving
    * the table state, and the oracle value-checks the final (conforming)
    * contents. */
  def q68Constraints(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_con", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_con"))
    graft.spark.Constraints.add(
      s, ctx, table, graft.spark.Constraints.check("qty_band", "l_quantity BETWEEN 1 AND 30"), user)
    graft.spark.Constraints.add(
      s, ctx, table, graft.spark.Constraints.notNull("l_orderkey"), user)
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    li.where(col("l_quantity") <= 30)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: conforming slice"))
    val goodState = log.currentVersion(table.name)
    // the violating batch (quantities > 50 exist in lineitem) must reject
    // pre-commit and leave the state untouched
    val rejected =
      try {
        li.where(col("l_quantity") > 30)
          .versionedInsertInto(ctx, table, user, UpdateMessage("bad"))
        false
      } catch { case e: Throwable =>
        // the raise_error surfaces wrapped in task/job failure layers —
        // the constraint name must be somewhere down the cause chain
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(10)
          .exists(t => Option(t.getMessage).exists(_.contains("qty_band")))
      }
    require(rejected, "the violating write must reject with the constraint name")
    require(log.currentVersion(table.name) == goodState,
      "a rejected write must not move the table state")
    graft.spark.VersionedReader(s, log).read(table)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q69: COLUMN-MAPPING schema evolution — rename without rewriting a
    * byte ([[graft.spark.ColumnMapping]], the Delta name-mapping
    * pattern): v1 loads the A/N partitions, then `l_quantity` is RENAMED
    * to `qty` (metadata-only), and v2 writes the R partition under the
    * NEW logical name — its files store the same frozen physical name,
    * so the mapped read unifies both file generations under `qty`.
    * Asserted in-query: the raw scan still shows the physical name
    * everywhere (no rewrite happened), and TIME TRAVEL to the pre-rename
    * commit reads the schema of THAT commit (`l_quantity`, A/N rows
    * only). The oracle value-checks the unified final aggregate. */
  def q69ColumnMapping(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_map", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_map"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    li.where(col("l_returnflag") =!= "R")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: A+N"))
    val preRename = log.updates(table.name).head.id

    graft.spark.ColumnMapping.rename(s, ctx, table, "l_quantity", "qty", user)
    // v2 writes the R partition under the NEW logical name
    li.where(col("l_returnflag") === "R")
      .withColumnRenamed("l_quantity", "qty")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: R under qty"))

    // no rewrite happened: every file still stores the physical name
    val raw = graft.spark.VersionedReader(s, log).read(table)
    require(raw.columns.contains("l_quantity") && !raw.columns.contains("qty"),
      "rename must be metadata-only — files keep the physical column name")
    // time travel across the rename reads the addressed commit's schema
    val old = graft.spark.ColumnMapping.read(s, log, table, Some(preRename))
    require(old.columns.contains("l_quantity") && !old.columns.contains("qty"),
      "a pre-rename read must show the pre-rename schema")

    graft.spark.ColumnMapping.read(s, log, table)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("qty"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q70: the DELETION-VECTOR MAINTENANCE lifecycle — the round-13
    * scale-story end-to-end, oracle-checked: scattered DV deletes land in
    * per-file-grouped sidecars; a PARTITION-SCOPED OPTIMIZE of 'R' sheds
    * exactly its vectors ([[graft.spark.DeletionVectors.stageTombstones]]
    * tombstones — asserted: the resolved pair set shrinks to the
    * untouched partitions'); `squashSidecars` folds the remaining groups
    * into ONE contributing dir (asserted) so reads open O(1) sidecars; a
    * further delete composes on top. The oracle recomputes the final
    * logical state relationally — every maintenance step must be
    * row-invisible beyond the deletes themselves. */
  def q70DvMaintenance(s: SparkSession, dir: String): DataFrame = {
    import graft.spark.DeletionVectors
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_dvm", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_dvm"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))

    // two scattered deletes: every partition's files gain vectors
    DeletionVectors.delete(
      ctx, log, table, col("l_orderkey") % 10 === 0, user, UpdateMessage("dv1"))
    DeletionVectors.delete(
      ctx, log, table, col("l_orderkey") % 10 === 1, user, UpdateMessage("dv2"))

    // partition-scoped OPTIMIZE of 'R': physically absorbs its vectors,
    // tombstones its dead groups — the untouched partitions' pairs remain
    val rPart = Partition(ColumnValue(PartitionColumn("l_returnflag"), "R"))
    graft.spark.Compaction.compact(
      s, ctx, table, user, UpdateMessage("optimize R"), partitions = Seq(rPart))
    val pairs = DeletionVectors.resolvePairs(s, log, table, None)
      .map(_.select("file").distinct().collect().map(_.getString(0)).toList)
      .getOrElse(Nil)
    require(pairs.nonEmpty && pairs.forall(!_.contains("/l_returnflag=R/")),
      "the scoped rewrite must shed exactly the R partition's vectors")

    // squash: one contributing dir serves every subsequent read
    require(DeletionVectors.squashSidecars(s, ctx, table, user, UpdateMessage("squash sidecars")),
      "multiple sidecar dirs expected before the squash")
    require(DeletionVectors.liveSidecarDirs(s, log, table, None).sizeIs == 1,
      "squash must fold the contributing dirs to one")

    // a further delete composes on the squashed layout
    DeletionVectors.delete(
      ctx, log, table, col("l_orderkey") % 10 === 2, user, UpdateMessage("dv3"))

    DeletionVectors.read(s, log, table)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q71: incremental AGGREGATE maintenance from the change feed's SIGNED
    * DELTAS — the consumer pattern the row-level feed unlocks (q42's
    * partition-recompute cannot even SEE a DV delete; it now refuses):
    * the maintained aggregate is updated by `group → (Σ±1, Σ±qty)` deltas
    * computed from the feed — O(changed rows) work, no partition
    * re-scan — and must equal the full recompute (the oracle) exactly.
    * Here the changes span BOTH feed sources: a partition rewrite (old
    * rows delete / new rows insert) and a scattered DV delete in an
    * untouched partition. Counts and sums are exact integers/decimals, so
    * incremental == full is bit-checkable. */
  def q71FeedIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_cdfagg", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_cdfagg"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))
    val v1 = log.updates(table.name).head.id

    // the maintained aggregate, built once from v1
    val base = graft.spark.VersionedReader(s, log).read(table)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))

    // changes: rewrite R, DV-delete scattered rows of A
    li.where(col("l_returnflag") === "R" && col("l_quantity") > 40)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: refresh R"))
    graft.spark.DeletionVectors.delete(
      ctx, log, table,
      col("l_returnflag") === "A" && col("l_orderkey") % 7 === 0,
      user, UpdateMessage("dv: scattered delete in A"))
    val head = log.currentCommit(table.name)

    // O(changed rows): signed per-group deltas straight off the feed
    val feed = graft.spark.ChangeFeed.read(s, log, table, Some(v1), head)
    val sign = when(
      col(graft.spark.ChangeFeed.ChangeTypeCol) === graft.spark.ChangeFeed.Insert, lit(1L))
      .otherwise(lit(-1L))
    val deltas = feed.groupBy("l_returnflag")
      .agg(
        sum(sign).as("d_items"),
        sum(sign * col("l_quantity")).as("d_qty"))
    base.join(deltas, Seq("l_returnflag"), "full_outer")
      .select(
        col("l_returnflag"),
        (coalesce(col("n_items"), lit(0L)) + coalesce(col("d_items"), lit(0L))).as("n_items"),
        round(coalesce(col("sum_qty"), lit(0.0)) + coalesce(col("d_qty"), lit(0.0)), 2).as("sum_qty"))
      .where(col("n_items") > 0)
      .orderBy("l_returnflag")
  }

  /** Q79: ATOMIC MULTI-TABLE TRANSACTIONS
    * ([[graft.core.TableVersions.commitAll]] /
    * [[graft.spark.VersionContext.commitTransaction]]) — a fact table and
    * its summary table move together or not at all: each transaction
    * stages both writes (data lands as never-referenced version dirs),
    * then ONE atomic commit point — the durable log's `_txns/<id>.committed`
    * marker, a single file create — flips every table's replay at once.
    * No reader can observe the detail refreshed but the summary stale.
    * Runs on the DURABLE file log so the marker protocol (not the
    * in-memory CAS) is what's exercised; the crash windows are pinned in
    * the contract suite. Asserted in-query: two marker files exist, and
    * the summary table equals a rollup of the detail table read back —
    * cross-table consistency after both transactions. */
  def q79MultiTableTxn(s: SparkSession, dir: String): DataFrame = {
    val logDir = Files.createTempDirectory("graft_txnlog")
    val log = graft.core.JsonFileTableVersions(logDir.toString)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val detail = tempTable(
      "li_txn_detail", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    val summary = tempTable("li_txn_summary", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(detail, user, UpdateMessage("create detail"))
    ctx.init(summary, user, UpdateMessage("create summary"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    def rollup(df: DataFrame): DataFrame = df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))

    // txn 1: full load + its rollup, one atomic commit point
    VersionContext.commitTransaction(ctx, Seq(
      li.versionedStage(ctx, detail, user, UpdateMessage("txn1: detail full load")),
      rollup(li).versionedStage(ctx, summary, user, UpdateMessage("txn1: summary"))))

    // txn 2: refresh the R partition AND the matching summary — together
    val finalState = li.where(col("l_returnflag") =!= "R")
      .unionByName(li.where(col("l_returnflag") === "R" && col("l_quantity") > 40))
    VersionContext.commitTransaction(ctx, Seq(
      li.where(col("l_returnflag") === "R" && col("l_quantity") > 40)
        .versionedStage(ctx, detail, user, UpdateMessage("txn2: refresh R")),
      rollup(finalState).versionedStage(ctx, summary, user, UpdateMessage("txn2: summary"))))

    // both transactions committed through the marker protocol
    val markers = Files.list(logDir.resolve("_txns")).count()
    require(markers == 2L, s"expected 2 committed-transaction markers, found $markers")
    // cross-table consistency: the summary IS the rollup of the detail
    val reader = graft.spark.VersionedReader(s, log)
    val fromDetail = rollup(reader.read(detail))
    val summ = reader.read(summary)
    require(summ.exceptAll(fromDetail).isEmpty && fromDetail.exceptAll(summ).isEmpty,
      "summary table must equal the rollup of the detail table it committed with")

    summ.select(
        col("l_returnflag"), col("n_items"), round(col("sum_qty"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q80: STORAGE-PARTITIONED JOIN — two versioned tables partitioned the
    * same way join on their partition column with NO exchange under either
    * side ([[org.apache.spark.sql.execution.datasources.v2.GraftKeyedFileScan]]:
    * the scan reports `KeyGroupedPartitioning` and plans one
    * `HasPartitionKey` input partition per partition value; opt-in via
    * `spark.graft.storagePartitionedJoin.enabled` — the stock v2-bucketing
    * conf gates only the planner side and defaults on). At 100 TB
    * this is the difference between shuffling two fact tables and
    * streaming co-located partition pairs. Asserted in-query: zero
    * `ShuffleExchange` nodes below the join while the switch is on. The
    * oracle replays the join relationally. */
  def q80StoragePartitionedJoin(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq80", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq80", log)
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    def mk(name: String, df: DataFrame): TableDefinition = {
      val t = tempTable(
        name, PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
      ctx.init(t, user, UpdateMessage(s"create $name"))
      graft.spark.GraftTableCatalog.register("graftq80", t)
      df.versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
      t
    }
    mk("li_spj_big", li.where(col("l_quantity") > 10))
    mk("li_spj_small", li.where(col("l_quantity") <= 10))

    val sql =
      s"""SELECT b.l_returnflag, count(*) AS n_pairs,
         |       round(sum(b.l_quantity + s.l_quantity), 2) AS sum_qty
         |FROM graftq80.graft.li_spj_big b
         |JOIN graftq80.graft.li_spj_small s
         |  ON b.l_returnflag = s.l_returnflag AND b.l_orderkey = s.l_orderkey
         |GROUP BY b.l_returnflag ORDER BY b.l_returnflag""".stripMargin

    val confKeys = Seq(
      "spark.graft.storagePartitionedJoin.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      // the join adds l_orderkey on top of the partition key: co-partition
      // on the SUBSET (the partition column) is still a valid clustering
      "spark.sql.requireAllClusterKeysForCoPartition")
    val saved = confKeys.map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.graft.storagePartitionedJoin.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      val df = s.sql(sql)
      df.collect() // materialize the adaptive plan
      // zero exchanges below the join: the co-partitioned layout IS the
      // distribution the join needs
      def walk(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q) ++ walk(q.plan)
        case other => Seq(other) ++ other.children.flatMap(walk)
      }
      val nodes = walk(df.queryExecution.executedPlan)
      val join = nodes.find(_.nodeName.contains("Join")).getOrElse(
        sys.error("q80: no join node in the executed plan"))
      val below = walk(join).drop(1).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      require(below == 0,
        s"q80: expected an exchange-free storage-partitioned join, found $below shuffles")
      df
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Q81: GENERATED COLUMNS ([[graft.spark.GeneratedColumns]], the Delta
    * `GENERATED ALWAYS AS` feature) as DERIVED PARTITION COLUMNS: the
    * table partitions on `qty_band`, a column NO writer supplies — the
    * generation rule computes it inside the write's own pass, so every
    * writer lands rows in the right partitions without knowing the
    * partitioning scheme. A batch that supplies a WRONG value rejects
    * pre-commit (asserted in-query, state pinned unmoved); the derived
    * partition set is asserted against the commit log. The oracle
    * recomputes the banding relationally. */
  def q81GeneratedColumns(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_gen", PartitionSchema(List(PartitionColumn("qty_band"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_gen"))
    graft.spark.GeneratedColumns.add(
      s, ctx, table,
      graft.spark.GeneratedColumns.GeneratedColumn(
        "qty_band",
        "CASE WHEN l_quantity <= 20 THEN 'low' WHEN l_quantity <= 40 THEN 'mid' ELSE 'high' END"),
      user)
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    // the writer never mentions qty_band — the rule derives it
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: banded load"))
    val bands = partitionVersions(log, table).keySet.map(_.columnValues.head.value)
    require(bands == Set("low", "mid", "high"),
      s"derived partitions must be the three bands, got $bands")
    // a batch that LIES about the generated column rejects pre-commit
    val goodState = log.currentVersion(table.name)
    val rejected =
      try {
        li.limit(50).withColumn("qty_band", lit("low"))
          .versionedInsertInto(ctx, table, user, UpdateMessage("bad"))
        false
      } catch { case e: Throwable =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(10)
          .exists(t => Option(t.getMessage).exists(_.contains("GENERATED")))
      }
    require(rejected, "a wrong generated-column value must reject with the rule name")
    require(log.currentVersion(table.name) == goodState,
      "a rejected write must not move the table state")
    graft.spark.VersionedReader(s, log).read(table)
      .groupBy("qty_band")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("qty_band")
  }

  /** Q82: `COPY INTO` — IDEMPOTENT bulk file ingestion
    * ([[graft.spark.CopyInto]]): each source file loads exactly once
    * across arbitrary retries, because the loaded-file record rides IN
    * the ingest commit's message — data and bookkeeping are one atomic
    * record, so there is no crash window that double-loads or forgets.
    * Asserted in-query: the re-run of an already-ingested directory is a
    * no-op (0 files, no commit), and a directory gaining one new file
    * ingests exactly that file. Ingestion is copy-on-write append through
    * the ordinary pre-write pipeline. The oracle recomputes the final
    * table contents from the same slices. */
  def q82CopyInto(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq82", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq82", log)
    val table = tempTable(
      "li_copy", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_copy"))
    graft.spark.GraftTableCatalog.register("graftq82", table)
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

    // a landing directory accumulating files over time
    val src = Files.createTempDirectory("graft_copysrc")
    def land(df: DataFrame, prefix: String, parts: Int): Unit = {
      val tmp = Files.createTempDirectory("graft_copytmp")
      df.repartition(parts).write.mode("overwrite").parquet(tmp.toString)
      val stream = java.nio.file.Files.list(tmp)
      try stream.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
        .zipWithIndex.foreach { case (p, i) =>
          java.nio.file.Files.move(p, src.resolve(s"${prefix}_$i.parquet")); ()
        }
      finally stream.close()
    }
    land(li.where(col("l_returnflag") =!= "R"), "b1", 2)

    def copy(): org.apache.spark.sql.Row = s.sql(
      s"COPY INTO graftq82.${table.name.schema}.${table.name.name} " +
        s"FROM '$src' FILEFORMAT = PARQUET").collect().head
    val first = copy()
    require(first.getInt(0) == 2 && first.getInt(1) == 0,
      s"first COPY INTO must ingest both files, got $first")
    // idempotence: the re-run ingests nothing and commits nothing
    val headBefore = log.currentCommit(table.name)
    val rerun = copy()
    require(rerun.getInt(0) == 0 && rerun.getInt(1) == 2,
      s"re-run must skip every already-loaded file, got $rerun")
    require(log.currentCommit(table.name) == headBefore,
      "an all-skipped COPY INTO must not commit")
    // one new file arrives; only it ingests
    land(li.where(col("l_returnflag") === "R" && col("l_quantity") > 40), "b2", 1)
    val second = copy()
    require(second.getInt(0) == 1 && second.getInt(1) == 2,
      s"incremental COPY INTO must ingest exactly the new file, got $second")

    graft.spark.VersionedReader(s, log).read(table)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q83: IDENTITY COLUMNS ([[graft.spark.IdentityColumns]], the Delta
    * `GENERATED ALWAYS AS IDENTITY` shape): engine-assigned unique,
    * batch-monotone row ids with no executor coordination (per-task
    * disjoint 2³³ ranges over a commit-carried high-water mark — the
    * advance and the data ride one atomic commit). Asserted in-query:
    * ids are globally UNIQUE, the second batch's ids all sit ABOVE the
    * first's (the mark advanced), and a batch supplying the column
    * rejects (ALWAYS semantics). The id VALUES are deliberately not in
    * the output (gaps are the distributed-assignment contract); the
    * oracle value-checks the data the ids were assigned to. */
  def q83IdentityColumns(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_ident", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_ident"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    graft.spark.IdentityColumns.insertWithIdentity(
      li.where(col("l_returnflag") =!= "R"), ctx, table, "row_id",
      user, UpdateMessage("v1: A+N"))
    graft.spark.IdentityColumns.insertWithIdentity(
      li.where(col("l_returnflag") === "R"), ctx, table, "row_id",
      user, UpdateMessage("v2: R"))

    val read = graft.spark.VersionedReader(s, log).read(table)
    val Array(n, nDistinct) = read.agg(
      count(lit(1)), countDistinct(col("row_id"))).head().toSeq.map(_.asInstanceOf[Long]).toArray
    require(n == nDistinct, s"identity ids must be globally unique ($nDistinct of $n)")
    val Array(maxB1, minB2) = read.agg(
      max(when(col("l_returnflag") =!= "R", col("row_id"))),
      min(when(col("l_returnflag") === "R", col("row_id"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    require(minB2 > maxB1,
      s"batch 2 ids must sit above batch 1's high-water mark ($minB2 !> $maxB1)")
    val rejected =
      try {
        graft.spark.IdentityColumns.insertWithIdentity(
          li.limit(5).withColumn("row_id", lit(1L)), ctx, table, "row_id",
          user, UpdateMessage("bad"))
        false
      } catch { case e: IllegalArgumentException => e.getMessage.contains("ALWAYS") }
    require(rejected, "a batch supplying the identity column must reject")

    read.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q84: PARTITION-SCHEME EVOLUTION ([[graft.spark.PartitionEvolution]])
    * — the Iceberg repartitioning parity: the table's partition columns
    * change at a commit boundary (one atomic rewrite commit: every
    * new-scheme partition added, every old-scheme partition removed, DVs
    * absorbed), the boundary commit scopes each commit range to its scheme,
    * and time travel reads each era under its own layout. The query
    * builds a by-returnflag table, DV-deletes scattered rows, evolves to
    * by-linestatus, then overwrites one NEW-era partition — asserting
    * in-query that the old era time-travels intact, the new layout is
    * linestatus-keyed, and a stale-scheme writer refuses. The oracle
    * replays the final state relationally. */
  def q84PartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    import graft.spark.{DeletionVectors, PartitionEvolution}
    val (ctx, log) = freshContext()
    val t = tempTable(
      "li_evolve", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("create li_evolve"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
    li.versionedInsertInto(ctx, t, user, UpdateMessage("v1: by returnflag"))
    val preDelete = log.currentCommit(t.name)
    DeletionVectors.delete(
      ctx, log, t, col("l_orderkey") % 11 === 0, user, UpdateMessage("dv: %11"))

    val evolved = PartitionEvolution.evolve(
      s, ctx, t, PartitionSchema(List(PartitionColumn("l_linestatus"))), user)
    // the new era's fold is linestatus-keyed; the boundary absorbed the DVs
    log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) =>
        require(pvs.keys.forall(_.hivePath.startsWith("l_linestatus=")),
          "post-boundary folds must hold only new-scheme partitions")
      case other => sys.error(s"unexpected $other")
    }
    require(!DeletionVectors.hasVectors(s, log, evolved, None),
      "the boundary rewrite must absorb the deletion vectors")
    // old era time-travels intact under its own layout
    require(VersionedReader(s, log).readAsOf(t, preDelete).count() == li.count(),
      "pre-boundary time travel must serve the old era's full state")
    require(PartitionEvolution.schemeAt(s, log, t, Some(preDelete))
      .columns.map(_.name) == List("l_returnflag"), "old era scheme must resolve")
    // a stale-scheme writer refuses loudly
    val refused =
      try {
        li.limit(3).versionedInsertInto(ctx, t, user, UpdateMessage("stale"))
        false
      } catch { case e: IllegalStateException => e.getMessage.contains("stale scheme") }
    require(refused, "a write holding the pre-evolution definition must refuse")

    // a NEW-era partition overwrite composes normally
    li.where(col("l_linestatus") === "O" && col("l_quantity") > 45)
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("v2: O := qty>45"))

    VersionedReader(s, log).read(evolved)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_linestatus")
  }

  /** Q84b: METADATA-ONLY partition evolution — the 100 TB boundary. The
    * scheme flips in ONE empty-ops commit (no rewrite job: the fold's
    * partition->version map is bit-identical across the boundary), new-era
    * writes land beside the old era's dirs, reads UNION the per-era scans
    * transparently, deletion vectors keep applying across BOTH eras
    * (per-era pointer capture), rewrites refuse loudly until
    * `consolidateEras` unifies the layout — after which the same read
    * serves the same rows from a uniform new-scheme fold. */
  def q84bMetadataEvolution(s: SparkSession, dir: String): DataFrame = {
    import graft.spark.{DeletionVectors, PartitionEvolution}
    val (ctx, log) = freshContext()
    val t = tempTable(
      "li_evolve_meta", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("create li_evolve_meta"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
    li.versionedInsertInto(ctx, t, user, UpdateMessage("v1: by returnflag"))
    val preBoundary = log.currentCommit(t.name)
    val foldBefore = log.currentVersion(t.name)

    val evolved = PartitionEvolution.evolveMetadataOnly(
      s, ctx, t, PartitionSchema(List(PartitionColumn("l_linestatus"))), user)
    // O(metadata) boundary: the fold is UNCHANGED (no dir moved, no row read)
    require(log.currentVersion(t.name) == foldBefore,
      "the metadata-only boundary must not touch the fold")

    // new-era writes land linestatus-keyed dirs BESIDE the old era's
    li.where(col("l_quantity") > 45)
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("v2: high-qty rows"))
    require(PartitionEvolution.eraSignatures(log.currentVersion(t.name)).size == 2,
      "the fold must hold both eras side by side")

    // one DV delete hides rows across BOTH eras' files
    DeletionVectors.delete(
      ctx, log, evolved, col("l_orderkey") % 13 === 0, user, UpdateMessage("dv: %13"))

    // old era time-travels intact; rewrites refuse with the escape named
    require(VersionedReader(s, log).readAsOf(t, preBoundary).count() == li.count(),
      "pre-boundary time travel must serve the old era's full state")
    val refused =
      try { graft.spark.Compaction.compact(s, ctx, evolved, user, UpdateMessage("opt")); false }
      catch { case e: IllegalStateException => e.getMessage.contains("consolidateEras") }
    require(refused, "a mixed fold must refuse OPTIMIZE loudly")

    val mixedResult = DeletionVectors.read(s, log, evolved)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
    val mixedRows = mixedResult.orderBy("l_linestatus").collect()

    // consolidation unifies the layout; the answer must not move
    PartitionEvolution.consolidateEras(s, ctx, evolved, user)
    require(PartitionEvolution.eraSignatures(log.currentVersion(t.name)) ==
      Set(List("l_linestatus")), "consolidation must leave one era")
    require(!DeletionVectors.hasVectors(s, log, evolved, None),
      "consolidation must absorb the deletion vectors")
    val consolidated = DeletionVectors.read(s, log, evolved)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
    require(consolidated.orderBy("l_linestatus").collect().toSeq == mixedRows.toSeq,
      "the era-union read and the consolidated read must agree")
    consolidated.orderBy("l_linestatus")
  }

  /** Q82b: COPY INTO for a SCHEMA-CARRYING text source — CSV batches
    * ingest with the table's REGISTERED schema pinned (never per-batch
    * inference, whose types can drift between batches), `PATTERN` scopes
    * the landing dir to `*.csv` (a foreign `.json` file in the same dir is
    * invisible — neither ingested nor counted), and `FORMAT_OPTIONS`
    * feeds the header flag to the reader. Same idempotence contract as
    * q82: re-runs skip, new files ingest incrementally. */
  def q82bCopyCsv(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq82b", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq82b", log)
    val table = tempTable(
      "li_copycsv", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_copycsv"))
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    graft.spark.GraftTableCatalog.register("graftq82b", table, Some(StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")

    val src = Files.createTempDirectory("graft_copycsv_src")
    def land(df: DataFrame, prefix: String, parts: Int): Unit = {
      val tmp = Files.createTempDirectory("graft_copycsv_tmp")
      df.repartition(parts).write.mode("overwrite")
        .option("header", "true").csv(tmp.toString)
      val stream = java.nio.file.Files.list(tmp)
      try stream.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".csv")).sortBy(_.toString)
        .zipWithIndex.foreach { case (p, i) =>
          java.nio.file.Files.move(p, src.resolve(s"${prefix}_$i.csv")); ()
        }
      finally stream.close()
    }
    land(li.where(col("l_returnflag") =!= "R"), "b1", 2)
    // a foreign feed's file in the same landing dir: PATTERN hides it
    java.nio.file.Files.writeString(src.resolve("foreign.json"), """{"x":1}""")

    def copy(): org.apache.spark.sql.Row = s.sql(
      s"COPY INTO graftq82b.${table.name.schema}.${table.name.name} " +
        s"FROM '$src' FILEFORMAT = CSV PATTERN = '*.csv' " +
        "FORMAT_OPTIONS ('header' = 'true')").collect().head
    val first = copy()
    require(first.getInt(0) == 2 && first.getInt(1) == 0,
      s"first COPY INTO must ingest both csv files and see nothing else, got $first")
    val headBefore = log.currentCommit(table.name)
    val rerun = copy()
    require(rerun.getInt(0) == 0 && rerun.getInt(1) == 2,
      s"re-run must skip every already-loaded file, got $rerun")
    require(log.currentCommit(table.name) == headBefore,
      "an all-skipped COPY INTO must not commit")
    land(li.where(col("l_returnflag") === "R" && col("l_quantity") > 40), "b2", 1)
    val second = copy()
    require(second.getInt(0) == 1 && second.getInt(1) == 2,
      s"incremental COPY INTO must ingest exactly the new file, got $second")
    // pinned schema, not inference: the quantity column is the declared
    // DOUBLE even though a csv batch of integral-looking strings would
    // infer integer
    val qtyType = s.sql("SELECT * FROM graftq82b.graft.li_copycsv").schema("l_quantity").dataType
    require(qtyType == DoubleType, s"pinned schema must hold, got $qtyType")

    s.sql(
      """SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        |FROM graftq82b.graft.li_copycsv
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q82c: COPY INTO from a NESTED landing layout — ORC batches under
    * per-batch subdirectories, scoped by a nested glob PATTERN
    * (star-slash-star.orc). Pins the globbing contract: the pattern is a
    * Hadoop glob relative to the landing dir (one `*` per path segment),
    * top-level files and non-matching nested files are invisible, and
    * the load history keys files by their RELATIVE path — same-named
    * files in different subdirs are distinct loads, each ingested exactly
    * once across retries. ORC is self-describing: no schema pin needed,
    * and the ORC batches land in a parquet table through the ordinary
    * versioned write. */
  def q82cCopyOrcNested(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionedMetastore(log, new InMemoryMetastore)
    val vctx = VersionContext(ctx)
    s.conf.set(
      "spark.sql.catalog.graftq82c", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq82c", log)
    val table = tempTable(
      "li_copyorc", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    vctx.init(table, user, UpdateMessage("create li_copyorc"))
    graft.spark.GraftTableCatalog.register("graftq82c", table)
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")

    val src = Files.createTempDirectory("graft_copyorc_src")
    def landOne(df: DataFrame, subdir: String, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_copyorc_tmp")
      df.coalesce(1).write.mode("overwrite").orc(tmp.toString)
      val stream = java.nio.file.Files.list(tmp)
      val part =
        try stream.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .find(_.getFileName.toString.endsWith(".orc")).get
        finally stream.close()
      val destDir = if (subdir.isEmpty) src else src.resolve(subdir)
      java.nio.file.Files.createDirectories(destDir)
      java.nio.file.Files.move(part, destDir.resolve(name))
      ()
    }
    // batch 1: two nested files with the SAME NAME in different subdirs —
    // the relative-path history key must treat them as distinct loads
    landOne(li.where(col("l_returnflag") =!= "R" && col("l_orderkey") % 2 === 0),
      "batch1", "data.orc")
    landOne(li.where(col("l_returnflag") =!= "R" && col("l_orderkey") % 2 =!= 0),
      "batch2", "data.orc")
    // invisible to the nested pattern: a top-level orc and a nested non-orc
    landOne(li.where(col("l_returnflag") === "R"), "", "decoy.orc")
    java.nio.file.Files.writeString(src.resolve("batch1").resolve("notes.txt"), "x")

    def copy(): org.apache.spark.sql.Row = s.sql(
      s"COPY INTO graftq82c.${table.name.schema}.${table.name.name} " +
        s"FROM '$src' FILEFORMAT = ORC PATTERN = '*/*.orc'").collect().head
    val first = copy()
    require(first.getInt(0) == 2 && first.getInt(1) == 0,
      s"first COPY INTO must ingest both nested orc files (only), got $first")
    val rerun = copy()
    require(rerun.getInt(0) == 0 && rerun.getInt(1) == 2,
      s"re-run must skip every already-loaded file, got $rerun")
    // a third same-named file in a new subdir is a NEW load
    landOne(li.where(col("l_returnflag") === "R" && col("l_quantity") > 40),
      "batch3", "data.orc")
    val second = copy()
    require(second.getInt(0) == 1 && second.getInt(1) == 2,
      s"incremental COPY INTO must ingest exactly the new nested file, got $second")

    s.sql(
      """SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        |FROM graftq82c.graft.li_copyorc
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q83b: the SQL IDENTITY lifecycle — `ALTER TABLE … ADD COLUMN row_id
    * BIGINT GENERATED ALWAYS AS IDENTITY` declares the engine-owned id
    * column (schema evolution + the identity declaration), then
    * plain SQL `INSERT INTO … (user columns)` statements stamp unique,
    * batch-monotone ids with the advanced high-water mark riding each
    * write commit. In-query requires pin global uniqueness and
    * cross-batch monotonicity; the oracle value-checks the data the ids
    * were assigned to (the ids themselves are engine values). */
  def q83bSqlIdentity(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq83b", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq83b", log)
    val table = tempTable(
      "li_idsql", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_idsql"))
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    graft.spark.GraftTableCatalog.register("graftq83b", table, Some(StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))))

    s.sql(
      "ALTER TABLE graftq83b.graft.li_idsql ADD COLUMN row_id BIGINT " +
        "GENERATED ALWAYS AS IDENTITY").collect()

    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .createOrReplaceTempView("li_src_q83b")
    s.sql(
      """INSERT INTO graftq83b.graft.li_idsql (l_orderkey, l_quantity, l_returnflag)
        |SELECT l_orderkey, l_quantity, l_returnflag FROM li_src_q83b
        |WHERE l_returnflag <> 'R'""".stripMargin)
    s.sql(
      """INSERT INTO graftq83b.graft.li_idsql (l_orderkey, l_quantity, l_returnflag)
        |SELECT l_orderkey, l_quantity, l_returnflag FROM li_src_q83b
        |WHERE l_returnflag = 'R'""".stripMargin)

    val inv = s.sql(
      """SELECT count(*), count(DISTINCT row_id),
        |       max(CASE WHEN l_returnflag <> 'R' THEN row_id END),
        |       min(CASE WHEN l_returnflag = 'R' THEN row_id END)
        |FROM graftq83b.graft.li_idsql""".stripMargin).head()
    require(inv.getLong(0) == inv.getLong(1),
      s"identity ids must be globally unique (${inv.getLong(1)} of ${inv.getLong(0)})")
    require(inv.getLong(3) > inv.getLong(2),
      s"batch 2 ids must sit above batch 1's high-water mark " +
        s"(${inv.getLong(3)} !> ${inv.getLong(2)})")

    s.sql(
      """SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        |FROM graftq83b.graft.li_idsql
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q78: SQL MATERIALIZED VIEWS with feed-driven incremental refresh
    * ([[graft.spark.MaterializedView]]) — the q71 maintenance loop
    * promoted to a first-class object: `CREATE MATERIALIZED VIEW … AS
    * SELECT` (analyzed, only the self-maintainable count/sum GROUP BY
    * shape admitted), then `REFRESH MATERIALIZED VIEW` advances it to the
    * source head with SIGNED deltas off the change feed — O(changed
    * rows), DV-delete-correct, one atomic MV commit carrying the new
    * anchor. Asserted in-query: the refresh reports `incremental`, a
    * repeat reports `no-op`, and the MV's commit history shows exactly
    * create+refresh. The oracle full-recomputes the view definition over
    * the final source state — incremental == full. */
  def q78MaterializedView(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq78", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq78", log)
    val table = tempTable(
      "li_mvsrc", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_mvsrc"))
    graft.spark.GraftTableCatalog.register("graftq78", table)
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))

    val mvLoc = Files.createTempDirectory("graft_li_mv").toUri
    val src = s"graftq78.${table.name.schema}.${table.name.name}"
    s.sql(
      s"""CREATE MATERIALIZED VIEW graftq78.${table.name.schema}.li_mv
         |LOCATION '$mvLoc'
         |AS SELECT l_returnflag, count(*) AS n_items, sum(l_quantity) AS sum_qty
         |FROM $src WHERE l_quantity > 5 GROUP BY l_returnflag""".stripMargin)

    // source moves on: R rewritten, scattered DV delete in untouched A
    li.where(col("l_returnflag") === "R" && col("l_quantity") > 40)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: refresh R"))
    graft.spark.DeletionVectors.delete(
      ctx, log, table,
      col("l_returnflag") === "A" && col("l_orderkey") % 7 === 0,
      user, UpdateMessage("dv: scattered delete in A"))

    val refresh = s.sql("REFRESH MATERIALIZED VIEW graftq78.graft.li_mv").collect()
    require(refresh.head.getString(0) == "incremental",
      s"first refresh must be incremental, got ${refresh.head.getString(0)}")
    val again = s.sql("REFRESH MATERIALIZED VIEW graftq78.graft.li_mv").collect()
    require(again.head.getString(0) == "no-op",
      s"repeat refresh must be a no-op, got ${again.head.getString(0)}")
    // exactly create + one refresh commit in the MV history (the no-op
    // must not have committed)
    require(log.updates(TableName("graft", "li_mv")).size == 3,
      "MV history must be init + full build + one incremental refresh")

    s.sql(
      """SELECT l_returnflag, n_items, round(sum_qty, 2) AS sum_qty
        |FROM graftq78.graft.li_mv ORDER BY l_returnflag""".stripMargin)
  }

  /** Q78c: STAR-SCHEMA materialized view — fact ⋈ dim + GROUP BY on a
    * DIM attribute, the most common production MV shape. The dim
    * (broadcast) joins both the full build and the fact change feed; a
    * fact partition rewrite plus a scattered cross-partition DV delete
    * maintain incrementally (delete-touched groups re-scan); the
    * in-query gate pins incremental == FULL rebuild on the final state,
    * and a DIM change re-anchors with an automatic FULL (never a
    * stale-join delta). */
  def q78cStarMv(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq78c", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq78c", log)
    val fact = tempTable(
      "li_star", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(fact, user, UpdateMessage("create li_star"))
    graft.spark.GraftTableCatalog.register("graftq78c", fact)
    val dim = tempTable("part_star", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(dim, user, UpdateMessage("create part_star"))
    graft.spark.GraftTableCatalog.register("graftq78c", dim)

    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
    val part = Tables.load(s, dir, "part").select("p_partkey", "p_brand")
    li.versionedInsertInto(ctx, fact, user, UpdateMessage("v1: full load"))
    part.versionedInsertInto(ctx, dim, user, UpdateMessage("dim load"))

    val mvLoc = Files.createTempDirectory("graft_li_star_mv").toUri
    s.sql(
      s"""CREATE MATERIALIZED VIEW graftq78c.graft.star_mv
         |LOCATION '$mvLoc'
         |AS SELECT p.p_brand, count(*) AS n_items,
         |          sum(f.l_quantity) AS sum_qty, min(f.l_quantity) AS min_qty
         |FROM graftq78c.graft.li_star f
         |JOIN graftq78c.graft.part_star p ON f.l_partkey = p.p_partkey
         |GROUP BY p.p_brand""".stripMargin)

    // fact moves: R rewritten to its high-qty slice, then a scattered
    // cross-partition DV delete — both maintained incrementally
    li.where(col("l_returnflag") === "R" && col("l_quantity") > 40)
      .versionedInsertInto(ctx, fact, user, UpdateMessage("v2: R := qty>40"))
    graft.spark.DeletionVectors.delete(
      ctx, log, fact, col("l_orderkey") % 7 === 0,
      user, UpdateMessage("dv: %7"))
    val refresh = s.sql("REFRESH MATERIALIZED VIEW graftq78c.graft.star_mv").collect()
    require(refresh.head.getString(0) == "incremental",
      s"fact-side refresh must be incremental, got ${refresh.head.getString(0)}")

    // the incremental state must equal a FULL rebuild of the same state
    val incremental = s.sql(
      "SELECT * FROM graftq78c.graft.star_mv ORDER BY p_brand").collect().toSeq
    s.sql("REFRESH MATERIALIZED VIEW graftq78c.graft.star_mv FULL")
    val rebuilt = s.sql(
      "SELECT * FROM graftq78c.graft.star_mv ORDER BY p_brand").collect().toSeq
    require(incremental == rebuilt, "incremental must equal the FULL rebuild")

    // a DIM change invalidates fact-delta maintenance: auto-FULL re-anchor
    part.versionedInsertInto(ctx, dim, user, UpdateMessage("dim reload"))
    val dimRefresh = s.sql("REFRESH MATERIALIZED VIEW graftq78c.graft.star_mv").collect()
    require(dimRefresh.head.getString(0) == "full",
      s"a dim move must force a FULL refresh, got ${dimRefresh.head.getString(0)}")

    s.sql(
      """SELECT p_brand, n_items, round(sum_qty, 2) AS sum_qty, min_qty
        |FROM graftq78c.graft.star_mv ORDER BY p_brand""".stripMargin)
  }

  /** Q78b: the WIDENED MV shape algebra — avg/min/max alongside count/sum,
    * maintained exactly under a partition rewrite and a scattered DV
    * delete. `avg` sends every touched group down the re-scan path; the
    * delete makes sum/min/max groups re-scan too (a removed row can carry
    * the group's min/max or its last non-null summand — no delta repairs
    * that); untouched groups pass through. The in-query gate asserts
    * incremental == full recompute of the definition over the final source
    * state (rounded where float summation order may differ); the oracle
    * recomputes the same thing in SQL. */
  def q78bMvShapes(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq78b", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq78b", log)
    val table = tempTable(
      "li_mvshapes", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_mvshapes"))
    graft.spark.GraftTableCatalog.register("graftq78b", table)
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))

    val mvLoc = Files.createTempDirectory("graft_li_mvshapes").toUri
    val src = s"graftq78b.${table.name.schema}.${table.name.name}"
    s.sql(
      s"""CREATE MATERIALIZED VIEW graftq78b.${table.name.schema}.li_mvs
         |LOCATION '$mvLoc'
         |AS SELECT l_returnflag, count(*) AS n_items, sum(l_quantity) AS sum_qty,
         |          avg(l_quantity) AS avg_qty, min(l_quantity) AS min_qty,
         |          max(l_extendedprice) AS max_price
         |FROM $src WHERE l_quantity > 5 GROUP BY l_returnflag""".stripMargin)

    // source moves on: R rewritten (only the >40 band survives), scattered
    // DV delete in untouched A, N untouched entirely
    li.where(col("l_returnflag") === "R" && col("l_quantity") > 40)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: refresh R"))
    graft.spark.DeletionVectors.delete(
      ctx, log, table,
      col("l_returnflag") === "A" && col("l_orderkey") % 7 === 0,
      user, UpdateMessage("dv: scattered delete in A"))

    val refresh = s.sql("REFRESH MATERIALIZED VIEW graftq78b.graft.li_mvs").collect()
    require(refresh.head.getString(0) == "incremental",
      s"refresh must be incremental, got ${refresh.head.getString(0)}")

    // incremental == full: recompute the definition over the final state
    def rounded(df: DataFrame): Array[org.apache.spark.sql.Row] = df
      .select(col("l_returnflag"), col("n_items").cast("long").as("n_items"),
        round(col("sum_qty"), 2).as("sum_qty"), round(col("avg_qty"), 4).as("avg_qty"),
        col("min_qty"), col("max_price"))
      .orderBy("l_returnflag").collect()
    val got = rounded(s.sql("SELECT * FROM graftq78b.graft.li_mvs"))
    val want = rounded(
      graft.spark.DeletionVectors.read(s, log, table)
        .where(col("l_quantity") > 5)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"),
          avg("l_quantity").as("avg_qty"), min("l_quantity").as("min_qty"),
          max("l_extendedprice").as("max_price")))
    require(got.sameElements(want),
      s"incremental MV must equal the full recompute:\n got=${got.mkString(",")}\nwant=${want.mkString(",")}")

    s.sql(
      """SELECT l_returnflag, n_items, round(sum_qty, 2) AS sum_qty,
        |       round(avg_qty, 4) AS avg_qty, min_qty, max_price
        |FROM graftq78b.graft.li_mvs ORDER BY l_returnflag""".stripMargin)
  }

  /** Q77: the KEYED change feed — full Delta-CDF type vocabulary
    * ([[graft.spark.ChangeFeed.readKeyed]]): with a declared row identity
    * (lineitem's natural key `(l_orderkey, l_linenumber)`), the feed (a)
    * SUPPRESSES rewrite no-ops — rows a partition rewrite re-emitted
    * byte-identical vanish instead of surfacing as delete+insert noise —
    * and (b) PAIRS the surviving halves of in-place changes as
    * `update_preimage`/`update_postimage`. The scenario exercises all
    * four types at once: v2 rewrites 'R' keeping qty>20 (discounting
    * qty>40 rows 10% — updates; the (20,40] band unchanged — suppressed),
    * re-keys the qty≤10 rows (inserts; their originals delete), and a DV
    * DELETE hides scattered 'A' rows (pure deletes in an unmoved
    * partition). Replay of the extended vocabulary must still
    * reconstruct the head state exactly (asserted in-query). */
  /** Q77c: KEYLESS update classification — ROW TRACKING
    * ([[graft.spark.RowTracking]]). The table declares NO key: the
    * engine's stamped `_graft_row_id` (per-task disjoint ranges,
    * commit-carried high-water mark) is the pairing identity. A
    * read-modify-write rewrite of partition R carries every surviving
    * row's id back, so the tracked feed nets the untouched rows out
    * entirely and pairs each changed row's images exactly — no rollup,
    * no declared key, full-row duplicates included (each duplicate owns
    * its own id). Replay reconstructs the head state verbatim. */
  def q77cTrackedChangeFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.spark.RowTracking
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_rtcdf", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_rtcdf"))
    RowTracking.enable(s, ctx, table, user)
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    RowTracking.insert(li, ctx, table, user, UpdateMessage("v1: full load"))
    val v1 = log.currentCommit(table.name)

    // read-modify-write: the R partition re-lands with every row's id
    // carried; only the qty>40 rows change value
    val r = graft.spark.DeletionVectors.read(s, log, table)
      .where(col("l_returnflag") === "R")
    RowTracking.insert(
      r.withColumn("l_extendedprice",
        when(col("l_quantity") > 40, col("l_extendedprice") * 0.9)
          .otherwise(col("l_extendedprice"))),
      ctx, table, user, UpdateMessage("v2: discount high-qty R"))
    graft.spark.DeletionVectors.delete(
      ctx, log, table,
      col("l_returnflag") === "A" && col("l_orderkey") % 10 === 0,
      user, UpdateMessage("dv: scattered delete in A"))
    val head = log.currentCommit(table.name)

    val feed = graft.spark.ChangeFeed.readTracked(s, log, table, Some(v1), head).cache()
    try {
      // untouched carried rows vanish: the rewritten partition's qty<=40
      // rows net out by (full value, id)
      require(feed.where(
          col("l_returnflag") === "R" && col("l_quantity") <= 40).isEmpty,
        "carried unchanged rows must be absent from the tracked feed")
      // replay contract: one symmetric signed-count compare
      val replayed = graft.spark.ChangeFeed.replay(
        graft.spark.DeletionVectors.read(s, log, table, Some(v1)), feed)
      val now = graft.spark.DeletionVectors.read(s, log, table, Some(head))
      val cols = now.columns.map(col)
      val diff = replayed.groupBy(cols: _*).agg(count(lit(1)).as("__n"))
        .join(now.groupBy(cols: _*).agg(count(lit(1)).as("__m")),
          now.columns.toSeq, "full_outer")
        .where(!(col("__n") <=> col("__m")))
      require(diff.isEmpty, "tracked-feed replay must reconstruct the head state")

      feed.groupBy("_change_type")
        .agg(
          count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("_change_type")
        .localCheckpoint(true)
    } finally { feed.unpersist(); () }
  }

  def q77KeyedChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val (ctx, log) = freshContext()
    val table = tempTable(
      "li_kcdf", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_kcdf"))
    // the synthetic lineitem has no unique natural key, so the keyed table
    // is the per-(orderkey, linenumber, returnflag) rollup — key-unique by
    // construction (duplicate-key grace is pinned in ChangeFeedSpec)
    val li = Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey", "l_linenumber", "l_returnflag")
      .agg(
        max("l_quantity").as("l_quantity"),
        max("l_extendedprice").as("l_extendedprice"))
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))
    val v1 = log.updates(table.name).head.id

    val oldR = li.where(col("l_returnflag") === "R")
    val newR = oldR.where(col("l_quantity") > 20)
      .withColumn("l_extendedprice",
        when(col("l_quantity") > 40, col("l_extendedprice") * 0.9)
          .otherwise(col("l_extendedprice")))
      .unionByName(oldR.where(col("l_quantity") <= 10)
        .withColumn("l_linenumber", col("l_linenumber") + 100))
    newR.versionedInsertInto(ctx, table, user, UpdateMessage("v2: rework R"))
    graft.spark.DeletionVectors.delete(
      ctx, log, table,
      col("l_returnflag") === "A" && col("l_orderkey") % 10 === 0,
      user, UpdateMessage("dv: scattered delete in A"))
    val head = log.currentCommit(table.name)

    // the feed is consumed by three downstream checks — cache it once
    // (feed-sized: the changed rows, never the table)
    val feed = graft.spark.ChangeFeed.readKeyed(
      s, log, table, Some(v1), head,
      Seq("l_orderkey", "l_linenumber", "l_returnflag")).cache()
    try {
      // no-op suppression: the unchanged (20,40] band of the rewritten
      // partition must not surface at all
      require(feed.where(
          col("l_returnflag") === "R" &&
          col("l_quantity") > 20 && col("l_quantity") <= 40).isEmpty,
        "rewrite no-ops must be suppressed from the keyed feed")
      // replay contract with the extended vocabulary: one symmetric
      // signed-count compare (a single aggregate pass per side) instead of
      // two exceptAll subtractions — multiset equality either way
      val replayed = graft.spark.ChangeFeed.replay(
        graft.spark.DeletionVectors.read(s, log, table, Some(v1)), feed)
      val now = graft.spark.DeletionVectors.read(s, log, table, Some(head))
      val cols = now.columns.map(col)
      val diff = replayed.groupBy(cols: _*).agg(count(lit(1)).as("__n"))
        .join(now.groupBy(cols: _*).agg(count(lit(1)).as("__m")),
          now.columns.toSeq, "full_outer")
        .where(!(col("__n") <=> col("__m")))
      require(diff.isEmpty, "keyed-feed replay must reconstruct the head state")

      // localCheckpoint(eager) materializes the 4-row result and cuts the
      // lineage, so unpersisting the feed below cannot force a recompute
      feed.groupBy("_change_type")
        .agg(
          count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("_change_type")
        .localCheckpoint(true)
    } finally { feed.unpersist(); () }
  }

  /** Q85: MERGE-ON-READ SQL DELETE — `SET spark.graft.dml.mergeOnRead`
    * routes row-level DELETE onto a deletion-vector sidecar + empty-ops
    * commit ([[graft.spark.GraftDmlRule]] -> [[graft.spark.DeletionVectors
    * .delete]]): O(matched rows) written, ZERO version-pointer moves —
    * the 100 TB shape for predicates scattered across every partition,
    * where copy-on-write would rewrite the whole table. Two stacked
    * deletes fold per-file (latest-wins groups); SQL reads apply the
    * sidecars transparently (GraftDvScanRule). Pinned in-query: the fold
    * after both deletes is BYTE-IDENTICAL to the pre-delete fold. */
  def q85MorDelete(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq85", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq85", log)
    val table = tempTable(
      "li_mordel", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_mordel"))
    graft.spark.GraftTableCatalog.register("graftq85", table)
    val name = s"graftq85.${table.name.schema}.${table.name.name}"
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))
    val foldBefore = log.currentVersion(table.name)

    graft.spark.SessionConf.withConf(s, "spark.graft.dml.mergeOnRead", "true") {
      // scattered across EVERY partition — the copy-on-write worst case
      s.sql(s"DELETE FROM $name WHERE l_orderkey % 7 = 0")
      // a second delete stacks: touched files' groups fold, latest wins
      s.sql(s"DELETE FROM $name WHERE l_quantity > 48")
    }
    require(log.currentVersion(table.name) == foldBefore,
      "merge-on-read DELETE must not move version pointers")

    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_items,
         |       round(sum(l_quantity), 2) AS sum_qty,
         |       round(sum(l_extendedprice), 2) AS sum_price
         |FROM $name GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q86 — MERGE-ON-READ INSERT ([[graft.spark.RowOverlay]]): a batch
    * scattered over EVERY existing partition lands as a row-overlay
    * sidecar with ZERO partition rewrites (the copy-on-write carry would
    * re-land every touched partition wholesale — the 100 TB append
    * killer). Pinned in-query: the partition→version fold is bit-identical
    * before and after the insert. */
  def q86MorInsert(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq86", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq86", log)
    val table = tempTable(
      "li_morins", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_morins"))
    graft.spark.GraftTableCatalog.register("graftq86", table)
    val name = s"graftq86.${table.name.schema}.${table.name.name}"
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))
    val foldBefore = log.currentVersion(table.name)

    graft.spark.SessionConf.withConf(s, "spark.graft.dml.mergeOnRead", "true") {
      // the batch derives from the table itself and touches every
      // partition; two appends stack (each its own overlay dir)
      s.sql(
        s"""INSERT INTO $name
           |SELECT l_orderkey, l_linenumber, l_quantity + 1000, l_extendedprice, l_returnflag
           |FROM $name WHERE l_orderkey % 97 = 0""".stripMargin)
      s.sql(
        s"""INSERT INTO $name
           |SELECT l_orderkey, l_linenumber, l_quantity + 5000, l_extendedprice, l_returnflag
           |FROM $name WHERE l_orderkey % 97 = 0 AND l_quantity < 1000""".stripMargin)
    }
    require(log.currentVersion(table.name) == foldBefore,
      "merge-on-read INSERT into existing partitions must not move version pointers")

    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_items,
         |       round(sum(l_quantity), 2) AS sum_qty
         |FROM $name GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q87 — MERGE-ON-READ UPDATE ([[graft.spark.RowOverlay.update]]):
    * preimages hide behind deletion vectors, postimages land as overlay
    * rows, one atomic commit, O(matched) written — including a SET on the
    * PARTITION column (rows migrate by hide + re-land, the shape the
    * copy-on-write path reserves for MERGE). Pinned in-query: the original
    * partitions keep their version dirs through both updates. */
  def q87MorUpdate(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq87", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq87", log)
    val table = tempTable(
      "li_morupd", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_morupd"))
    graft.spark.GraftTableCatalog.register("graftq87", table)
    val name = s"graftq87.${table.name.schema}.${table.name.name}"
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    li.versionedInsertInto(ctx, table, user, UpdateMessage("v1: full load"))
    val before = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => sys.error(s"unexpected $other")
    }

    graft.spark.SessionConf.withConf(s, "spark.graft.dml.mergeOnRead", "true") {
      // scattered value update across every partition
      s.sql(s"UPDATE $name SET l_quantity = l_quantity + 100 WHERE l_orderkey % 11 = 0")
      // partition-column update: matched rows MIGRATE into partition 'Z'
      // (old copies vector-hidden, new copies land in a fresh dir)
      s.sql(s"UPDATE $name SET l_returnflag = 'Z' WHERE l_orderkey % 1000 = 1")
    }
    val after = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => sys.error(s"unexpected $other")
    }
    require(before.forall { case (p, v) => after.get(p).contains(v) },
      "merge-on-read UPDATE must keep every pre-existing partition's version dir")

    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_items,
         |       round(sum(l_quantity), 2) AS sum_qty
         |FROM $name GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q88 — MERGE-ON-READ MERGE ([[graft.spark.Merge.mergeConditional]]
    * under `spark.graft.dml.mergeOnRead`): matched DELETEs and UPDATEs
    * hide preimages behind vectors, UPDATE postimages and NOT MATCHED
    * inserts land as overlay rows — one atomic commit, zero partition
    * rewrites, and the UPDATE legally SETs the PARTITION column (rows
    * migrate by hide + re-land; copy-on-write refuses that shape).
    * Pinned in-query: every pre-existing partition keeps its version. */
  def q88MorMerge(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq88", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq88", log)
    val table = tempTable(
      "ord_mormrg", PartitionSchema(List(PartitionColumn("flag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create ord_mormrg"))
    graft.spark.GraftTableCatalog.register("graftq88", table)
    val name = s"graftq88.${table.name.schema}.${table.name.name}"
    val li = Tables.load(s, dir, "lineitem")
    li.createOrReplaceTempView("q88_lineitem")
    val target = s.sql(
      """SELECT l_orderkey, min(l_returnflag) AS flag, count(*) AS n_lines,
        |       round(sum(l_quantity), 2) AS qty
        |FROM q88_lineitem GROUP BY l_orderkey""".stripMargin)
    target.versionedInsertInto(ctx, table, user, UpdateMessage("v1: rollup load"))
    val before = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => sys.error(s"unexpected $other")
    }
    s.sql(
      s"""SELECT l_orderkey, 'R' AS flag, n_lines + 10000 AS n_lines, qty
         |FROM $name WHERE l_orderkey % 50 = 0
         |UNION ALL
         |SELECT l_orderkey + 100000000 AS l_orderkey, 'Z' AS flag,
         |       CAST(1 AS BIGINT) AS n_lines, CAST(0.0 AS DOUBLE) AS qty
         |FROM $name WHERE l_orderkey % 200 = 0""".stripMargin)
      .createOrReplaceTempView("q88_src")

    graft.spark.SessionConf.withConf(s, "spark.graft.dml.mergeOnRead", "true") {
      s.sql(
        s"""MERGE INTO $name t USING q88_src s ON t.l_orderkey = s.l_orderkey
           |WHEN MATCHED AND t.qty > 100 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET n_lines = s.n_lines, flag = s.flag
           |WHEN NOT MATCHED THEN
           |  INSERT (l_orderkey, flag, n_lines, qty) VALUES (s.l_orderkey, s.flag, s.n_lines, s.qty)
           |""".stripMargin)
    }
    val after = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => sys.error(s"unexpected $other")
    }
    require(before.forall { case (p, v) => after.get(p).contains(v) },
      "merge-on-read MERGE must keep every pre-existing partition's version dir")

    s.sql(
      s"""SELECT flag, count(*) AS n_keys, sum(n_lines) AS sum_lines,
         |       round(sum(qty), 2) AS sum_qty
         |FROM $name GROUP BY flag ORDER BY flag""".stripMargin)
  }

  /** Q89: SUBQUERY CONDITIONS IN DML ([[graft.spark.GraftDmlRule]]) —
    * `DELETE … WHERE k IN (SELECT …)`, merge-on-read `UPDATE … WHERE k IN
    * (SELECT …)`, and a MERGE whose source is a subquery-filtered SELECT:
    * the analyzed subquery re-anchors inside each command's own read and
    * Spark's subquery planning rewrites it into the semi join a SELECT
    * would get — no driver-side key materialization, the 100 TB shape
    * (the key set stays distributed; Delta parity). The IN-lists derive
    * from a SECOND graft table (`hot`, the orders keys), so the subquery
    * exercises a real cross-table plan. Pinned in-query: the
    * merge-on-read UPDATE moves no version pointers. */
  def q89SubqueryDml(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq89", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq89", log)
    val agg = tempTable(
      "li_subq", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(agg, user, UpdateMessage("create li_subq"))
    graft.spark.GraftTableCatalog.register("graftq89", agg)
    val hot = tempTable("hot_orders", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(hot, user, UpdateMessage("create hot_orders"))
    graft.spark.GraftTableCatalog.register("graftq89", hot)

    // per-(orderkey, returnflag) rollup: a unique key for the MERGE
    Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey", "l_returnflag")
      .agg(sum("l_quantity").as("qty"))
      .versionedInsertInto(ctx, agg, user, UpdateMessage("v1: rollup"))
    Tables.load(s, dir, "orders")
      .where(col("o_orderkey") % 25 === 0)
      .select("o_orderkey", "o_orderstatus")
      .versionedInsertInto(ctx, hot, user, UpdateMessage("hot keys"))
    val aggName = "graftq89.graft.li_subq"
    val hotName = "graftq89.graft.hot_orders"

    // 1. copy-on-write DELETE with an IN-subquery over the other table
    s.sql(
      s"""DELETE FROM $aggName WHERE l_orderkey IN
         |(SELECT o_orderkey FROM $hotName WHERE o_orderstatus = 'F')""".stripMargin)
    // 2. merge-on-read UPDATE with an IN-subquery: vectors + overlay,
    // zero pointer moves
    val foldBefore = log.currentVersion(agg.name)
    graft.spark.SessionConf.withConf(s, "spark.graft.dml.mergeOnRead", "true") {
      s.sql(
        s"""UPDATE $aggName SET qty = qty + 100 WHERE l_orderkey IN
           |(SELECT o_orderkey FROM $hotName WHERE o_orderstatus = 'O')""".stripMargin)
    }
    require(log.currentVersion(agg.name) == foldBefore,
      "merge-on-read UPDATE with a subquery condition must not move pointers")
    // 3. MERGE whose source is a subquery-filtered SELECT of the target
    s.sql(
      s"""MERGE INTO $aggName t USING (
         |  SELECT l_orderkey, l_returnflag, qty + 10000 AS qty FROM $aggName
         |  WHERE l_orderkey IN
         |    (SELECT o_orderkey FROM $hotName WHERE o_orderstatus = 'P')
         |) s ON t.l_orderkey = s.l_orderkey AND t.l_returnflag = s.l_returnflag
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // 4. CORRELATED EXISTS delete (copy-on-write): the condition references
    // the target on two columns inside the subquery — re-expressed by the
    // DML rule as a non-correlated row-membership test
    s.sql(
      s"""DELETE FROM $aggName t WHERE EXISTS (
         |  SELECT 1 FROM $hotName h
         |  WHERE h.o_orderkey = t.l_orderkey AND h.o_orderstatus = 'O'
         |    AND t.qty > 200)""".stripMargin)
    // 5. CORRELATED EXISTS update, merge-on-read: vectors + overlay only
    graft.spark.SessionConf.withConf(s, "spark.graft.dml.mergeOnRead", "true") {
      s.sql(
        s"""UPDATE $aggName t SET qty = qty + 1000 WHERE EXISTS (
           |  SELECT 1 FROM $hotName h
           |  WHERE h.o_orderkey = t.l_orderkey AND h.o_orderstatus = 'P')""".stripMargin)
    }

    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
         |FROM $aggName GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q90: COLUMN DEFAULT VALUES ([[graft.spark.ColumnDefaults]]) — the
    * SQL-standard `ALTER TABLE … ALTER COLUMN c SET DEFAULT expr`
    * lifecycle: after the declaration, a Scala batch OMITTING the column,
    * a merge-on-read append omitting it, a SQL column-list INSERT, and
    * the `DEFAULT` keyword all fill the declared constant, while the
    * pre-declaration rows keep their written values — defaults never
    * rewrite existing rows (Delta parity; existing-rows invariance is
    * what the oracle replays). SQL inserts resolve through Spark's own
    * default-column analysis (CURRENT_DEFAULT schema metadata). */
  def q90ColumnDefaults(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq90", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq90", log)
    val table = tempTable(
      "li_defaults", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_defaults"))
    graft.spark.GraftTableCatalog.register("graftq90", table)
    val name = s"graftq90.${table.name.schema}.${table.name.name}"
    val agg = Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey", "l_returnflag")
      .agg(sum("l_quantity").as("qty"))
    agg.withColumn("src", lit("base"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: base load"))

    s.sql(s"ALTER TABLE $name ALTER COLUMN src SET DEFAULT 'late'")

    // Scala batches omitting the column: the write pipeline fills it
    // (merge-on-read appends — the versioned write REPLACES partitions,
    // which is the point of q3/q86, not of this lifecycle)
    graft.spark.RowOverlay.append(
      agg.where(col("l_orderkey") % 100 === 0)
        .withColumn("l_orderkey", col("l_orderkey") + 10000000L),
      ctx, table, user, UpdateMessage("v2: no src"))
    // a second append composes on the same default
    graft.spark.RowOverlay.append(
      agg.where(col("l_orderkey") % 97 === 0)
        .withColumn("l_orderkey", col("l_orderkey") + 20000000L),
      ctx, table, user, UpdateMessage("mor: no src"))
    // SQL column-list INSERT and the DEFAULT keyword
    s.sql(
      s"""INSERT INTO $name (l_orderkey, l_returnflag, qty)
         |SELECT l_orderkey + 30000000, l_returnflag, qty
         |FROM $name WHERE src = 'base' AND l_orderkey % 101 = 0""".stripMargin)
    s.sql(
      s"""INSERT INTO $name (l_orderkey, l_returnflag, qty, src)
         |SELECT l_orderkey + 40000000, l_returnflag, qty, DEFAULT
         |FROM $name WHERE src = 'base' AND l_orderkey % 103 = 0""".stripMargin)

    s.sql(
      s"""SELECT src, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
         |FROM $name GROUP BY src ORDER BY src""".stripMargin)
  }

  /** Q91: `INSERT INTO … REPLACE WHERE` ([[graft.spark.ReplaceWhere]]) —
    * Delta's transactional selective overwrite, both tiers. A
    * partition-scoped predicate (`l_returnflag = 'A'`) resolves matched
    * partitions from the fold's VALUES — zero data files read, new dirs +
    * RemovePartition ops in one rebase-checked commit (untouched pointers
    * pinned in-query). A general row predicate rewrites only partitions
    * holding matching/incoming rows: survivors carry, the region's rows
    * are replaced by the statement's (here a strict subset with doubled
    * qty — net deletion inside the region). The source SELECT reads the
    * TARGET table itself: version dirs are immutable and the write stages
    * to fresh dirs before the pointer swap, so self-referential overwrite
    * is safe by construction. */
  def q91ReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq91", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq91", log)
    val table = tempTable(
      "li_rw", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_rw"))
    graft.spark.GraftTableCatalog.register("graftq91", table)
    val name = s"graftq91.${table.name.schema}.${table.name.name}"
    Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey", "l_returnflag")
      .agg(sum("l_quantity").as("qty"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: rollup"))

    // 1. partition-scoped tier: zero-read dynamic overwrite of 'A'
    val before = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => sys.error(s"unexpected fold $other")
    }
    s.sql(
      s"""INSERT INTO $name REPLACE WHERE l_returnflag = 'A'
         |SELECT l_orderkey, l_returnflag, qty + 5 AS qty
         |FROM $name WHERE l_returnflag = 'A'""".stripMargin)
    val after = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => sys.error(s"unexpected fold $other")
    }
    val aPart = before.keys.find(_.columnValues.head.value == "A").get
    require(after(aPart) != before(aPart), "matched partition must move")
    require((after - aPart) == (before - aPart),
      "REPLACE WHERE (partition-scoped) must pin every untouched pointer")

    // 2. general-predicate tier: replace the {N, key%10=0} region with its
    // qty>30 subset at doubled qty — survivors carried, one commit
    s.sql(
      s"""INSERT INTO $name REPLACE WHERE l_returnflag = 'N' AND l_orderkey % 10 = 0
         |SELECT l_orderkey, l_returnflag, qty * 2 AS qty FROM $name
         |WHERE l_returnflag = 'N' AND l_orderkey % 10 = 0 AND qty > 30""".stripMargin)

    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
         |FROM $name GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q92: GENERATED-COLUMN PARTITION PRUNING
    * ([[graft.spark.GraftGeneratedPruningRule]], Delta's
    * `OptimizeGeneratedColumn`) — the table partitions by
    * `ship_month GENERATED ALWAYS AS (date_format(l_shipdate, 'yyyy-MM'))`
    * and the query filters ONLY the base timestamp; the rule derives the
    * implied month bound (strict-to-non-strict truncation algebra) and
    * the scan node carries it as a PARTITION filter — pinned in-query
    * against the physical plan, along with the correctness of the
    * boundary month (its early days survive the derived bound and fall to
    * the data filter). The writer never mentions `ship_month` either: the
    * generation rule derives it on the write path (q81's contract). */
  def q92GeneratedPruning(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq92", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq92", log)
    val table = tempTable(
      "li_gprune", PartitionSchema(List(PartitionColumn("ship_month"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_gprune"))
    graft.spark.GeneratedColumns.add(
      s, ctx, table,
      graft.spark.GeneratedColumns.GeneratedColumn(
        "ship_month", "date_format(l_shipdate, 'yyyy-MM')"),
      user)
    graft.spark.GraftTableCatalog.register("graftq92", table)
    val name = s"graftq92.${table.name.schema}.${table.name.name}"
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: month-derived load"))

    val df = s.sql(
      s"""SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
         |FROM $name
         |WHERE l_shipdate >= TIMESTAMP '1996-06-15 00:00:00'
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    // the derived month bound must land as a PARTITION filter on the scan
    // (file-index pruning), not merely a data filter
    val plan = df.queryExecution.executedPlan.toString
    require(
      """PartitionFilters: \[[^\]]*ship_month[^\]]*>= 1996-06""".r
        .findFirstIn(plan).nonEmpty,
      "generated-column pruning must derive a ship_month partition filter " +
        "from the l_shipdate bound")
    df
  }

  /** Q93: SYMLINK MANIFEST EXPORT ([[graft.spark.SymlinkManifest]]) —
    * `GENERATE symlink_format_manifest FOR TABLE t`, the Delta spelling
    * for Presto/Trino/Athena interop: per-partition `manifest` text
    * files listing the CURRENT version's data-file URIs. The query then
    * consumes the table EXACTLY as a Hive symlink reader would — bare
    * parquet files from each partition's manifest with the partition
    * value taken from the manifest dir, never graft's own reader — and
    * the oracle recomputes the state relationally, proving the manifest
    * excludes the stale pre-rewrite dirs that remain on disk for time
    * travel. Pinned in-query: the manifest file set equals the versioned
    * reader's input files. */
  def q93SymlinkManifest(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq93", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq93", log)
    val table = tempTable(
      "li_manifest", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_manifest"))
    graft.spark.GraftTableCatalog.register("graftq93", table)
    val agg = Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey", "l_returnflag")
      .agg(sum("l_quantity").as("qty"))
    agg.versionedInsertInto(ctx, table, user, UpdateMessage("v1: rollup"))
    // rewrite ONE partition: its v1 dir goes stale on disk (time travel)
    // and must vanish from the manifest
    agg.where(col("l_returnflag") === "A").withColumn("qty", col("qty") + 5)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: A bump"))

    val gen = s.sql(
      "GENERATE symlink_format_manifest FOR TABLE graftq93.graft.li_manifest")
      .collect()
    require(gen.map(_.getString(0)).sorted.toSeq ==
      Seq("l_returnflag=A", "l_returnflag=N", "l_returnflag=R"),
      s"manifest must cover the three partitions, got ${gen.mkString(",")}")

    // read through the MANIFEST alone, the Hive-connector way: bare data
    // files per partition + the partition value from the manifest dir
    def norm(p: String) = p.replaceFirst("^file:/+", "file:/")
    val root = new java.io.File(new java.net.URI(
      graft.core.Partition.normalizedDir(table.location).toString +
        graft.spark.SymlinkManifest.DirName))
    val perPart: Seq[(String, Seq[String])] = root.listFiles().toSeq
      .filter(_.isDirectory).sortBy(_.getName).map { d =>
        val src = scala.io.Source.fromFile(new java.io.File(d, "manifest"))
        val files = try src.getLines().toList.filter(_.nonEmpty) finally src.close()
        d.getName.split("=", 2)(1) -> files
      }
    require(perPart.flatMap(_._2).map(norm).toSet ==
      graft.spark.VersionedReader(s, log).read(table).inputFiles.map(norm).toSet,
      "the manifest must list exactly the current version's files")
    perPart.map { case (flag, files) =>
        s.read.parquet(files: _*).withColumn("l_returnflag", lit(flag))
      }
      .reduce(_ unionByName _)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_keys"), round(sum("qty"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q94: MERGE SCHEMA EVOLUTION (`spark.graft.dml.autoMergeSchema`, the
    * Delta autoMerge contract) — a canonical `UPDATE SET * / INSERT *`
    * MERGE whose source carries a NEW column (`priority`) widens the
    * declared schema in the same statement: the column lands on touched
    * partitions, every pre-evolution row (matched partitions' carried
    * rows AND untouched partitions) reads it as a typed NULL, and the
    * widening is an auditable metadata-only commit. The oracle replays
    * the upsert with the evolution expressed as a CASE over which rows
    * the source supplied. */
  def q94MergeEvolution(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq94", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq94", log)
    val table = tempTable(
      "li_mev", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_mev"))
    graft.spark.GraftTableCatalog.register("graftq94", table)
    val name = s"graftq94.${table.name.schema}.${table.name.name}"
    val agg = Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey", "l_returnflag")
      .agg(sum("l_quantity").as("qty"))
    agg.versionedInsertInto(ctx, table, user, UpdateMessage("v1: rollup"))

    // source: %40 keys update (qty+500) and shifted %89 keys insert —
    // BOTH carrying the new 'priority' column the table never had
    agg.where(col("l_orderkey") % 40 === 0)
      .withColumn("qty", col("qty") + 500)
      .unionByName(
        agg.where(col("l_orderkey") % 89 === 0)
          .withColumn("l_orderkey", col("l_orderkey") + 60000000L))
      .withColumn("priority", (col("l_orderkey") % 5).cast("long"))
      .createOrReplaceTempView("q94_src")
    graft.spark.SessionConf.withConf(s, "spark.graft.dml.autoMergeSchema", "true") {
      s.sql(
        s"""MERGE INTO $name t USING q94_src s
           |ON t.l_orderkey = s.l_orderkey AND t.l_returnflag = s.l_returnflag
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    require(log.updates(table.name).map(_.message.content)
      .exists(_.startsWith("MERGE SCHEMA EVOLUTION")),
      "the widening must land as an auditable metadata-only commit")

    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty,
         |       count(priority) AS n_prio, sum(priority) AS sum_prio
         |FROM $name GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q95: BRANCH / TAG SQL DDL ([[graft.spark.GraftRefCommand]], the
    * Iceberg spellings over q65's WAP machinery) — the full
    * write-audit-publish lifecycle driven by SQL alone: `CREATE TAG` pins
    * the pre-change state, `CREATE BRANCH` opens the audit line, a staged
    * branch write leaves main readers untouched, `VERSION AS OF
    * '<branch>'` audits, `PUBLISH BRANCH` atomically exposes the audited
    * state while the tag keeps serving the old one, and `DROP BRANCH` /
    * `DROP TAG` retire the refs (history intact). Every invariant pinned
    * in-query; the oracle replays the published state relationally. */
  def q95BranchSql(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq95", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq95", log)
    val table = tempTable(
      "ord_refs", PartitionSchema(List(PartitionColumn("o_orderstatus"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create ord_refs"))
    graft.spark.GraftTableCatalog.register("graftq95", table)
    val name = s"graftq95.${table.name.schema}.${table.name.name}"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")

    orders.where(col("o_orderkey") % 2 === 0)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: even keys"))
    val mainCount = s.sql(s"SELECT count(*) FROM $name").head().getLong(0)
    s.sql(s"ALTER TABLE $name CREATE TAG prod_v1")
    s.sql(s"ALTER TABLE $name CREATE BRANCH audit")
    require(log.refs(table.name).keySet == Set("prod_v1", "audit"),
      "SQL CREATE BRANCH/TAG must land both refs")

    // stage the full recompute on the branch — main pointer unmoved
    orders.versionedInsertIntoBranch(
      ctx, table, user, UpdateMessage("staged: full load"), "audit")
    require(s.sql(s"SELECT count(*) FROM $name").head().getLong(0) == mainCount,
      "main readers must never see unpublished branch data")
    val auditCount = s.sql(
      s"SELECT count(*) FROM $name VERSION AS OF 'audit'").head().getLong(0)
    require(auditCount > mainCount, "the audit read must see the staged rows")

    s.sql(s"ALTER TABLE $name PUBLISH BRANCH audit")
    require(s.sql(s"SELECT count(*) FROM $name").head().getLong(0) == auditCount,
      "PUBLISH BRANCH must atomically expose the audited state")
    require(
      s.sql(s"SELECT count(*) FROM $name VERSION AS OF 'prod_v1'")
        .head().getLong(0) == mainCount,
      "the tag must keep serving the pre-publish state")

    s.sql(s"ALTER TABLE $name DROP BRANCH audit")
    s.sql(s"ALTER TABLE $name DROP TAG prod_v1")
    require(log.refs(table.name).isEmpty, "dropped refs must be gone")

    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |       round(sum(o_totalprice), 2) AS sum_price
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q96: NESTED-FIELD schema evolution ([[graft.spark.StructEvolution]] /
    * [[graft.spark.SchemaStates]]) — the full Delta nested-evolution
    * lifecycle driven by SQL: `ALTER TABLE ADD COLUMN meta.cust` widens a
    * struct in place (old files read the field as typed NULL), a MERGE
    * under autoMergeSchema widens the struct AGAIN from a source carrying
    * an extra nested field (kept rows conform with typed NULLs), and TIME
    * TRAVEL reads the struct shape of the ADDRESSED commit at every step
    * (commit-anchored schema states, the at-or-before discipline) —
    * pinned in-query; the oracle replays the final contents
    * relationally. */
  def q96NestedEvolution(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq96", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq96", log)
    val loc = Files.createTempDirectory("graft_q96").toUri
    val name = "graftq96.g.ord_nested"
    s.sql(
      s"""CREATE TABLE $name (
         |  o_orderkey BIGINT, meta STRUCT<prio: STRING>, o_orderstatus STRING)
         |USING parquet PARTITIONED BY (o_orderstatus) LOCATION '$loc'""".stripMargin)
    Tables.load(s, dir, "orders").createOrReplaceTempView("q96_orders")
    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey, named_struct('prio', o_orderpriority) AS meta, o_orderstatus
         |FROM q96_orders WHERE o_orderkey % 2 = 0""".stripMargin)
    val tn = TableName("g", "ord_nested")
    val v1 = log.currentCommit(tn)

    def metaFields(df: DataFrame): Seq[String] =
      df.schema.fields.find(_.name == "meta").get.dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq

    // nested ADD: the struct widens in place, audited, and old files read
    // the new field as a typed NULL
    s.sql(s"ALTER TABLE $name ADD COLUMN meta.cust STRING")
    require(log.updates(tn).head.message.content == "ALTER TABLE ADD COLUMNS (meta.cust)",
      "the nested evolution must be an auditable history entry")
    require(metaFields(s.table(name)) == Seq("prio", "cust"),
      "current reads must declare the widened struct")
    require(
      s.sql(s"SELECT count(meta.cust) FROM $name").head().getLong(0) == 0L,
      "pre-evolution files must read the nested field as NULL")

    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey,
         |       named_struct('prio', o_orderpriority,
         |                    'cust', CAST(o_custkey AS STRING)) AS meta,
         |       o_orderstatus
         |FROM q96_orders WHERE o_orderkey % 2 = 1""".stripMargin)
    val preMerge = log.currentCommit(tn)

    // MERGE autoMerge: the source struct carries ANOTHER nested field
    // ('flag') — matched %20 keys update (cust overwritten with 'M'),
    // shifted %97 keys insert; kept rows conform with NULL flags
    s.sql(
      s"""SELECT o_orderkey,
         |       named_struct('prio', o_orderpriority, 'cust', 'M', 'flag', 'upd') AS meta,
         |       o_orderstatus
         |FROM q96_orders WHERE o_orderkey % 20 = 0
         |UNION ALL
         |SELECT o_orderkey + 30000000,
         |       named_struct('prio', o_orderpriority,
         |                    'cust', CAST(o_custkey AS STRING), 'flag', 'new') AS meta,
         |       o_orderstatus
         |FROM q96_orders WHERE o_orderkey % 97 = 0""".stripMargin)
      .createOrReplaceTempView("q96_src")
    graft.spark.SessionConf.withConf(s, "spark.graft.dml.autoMergeSchema", "true") {
      s.sql(
        s"""MERGE INTO $name t USING q96_src s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    require(log.updates(tn).map(_.message.content)
      .exists(_.startsWith("MERGE SCHEMA EVOLUTION WIDEN COLUMNS (meta)")),
      "the struct widening must land as an auditable metadata-only commit")

    // TIME TRAVEL reads the ADDRESSED commit's struct shape at every step
    require(metaFields(s.sql(s"SELECT * FROM $name VERSION AS OF '${v1.id}'")) ==
      Seq("prio"), "time travel at v1 must read the original struct shape")
    require(metaFields(s.sql(s"SELECT * FROM $name VERSION AS OF '${preMerge.id}'")) ==
      Seq("prio", "cust"), "time travel pre-merge must read the one-add shape")
    require(metaFields(s.table(name)) == Seq("prio", "cust", "flag"),
      "current reads must declare the twice-widened struct")

    s.sql(
      s"""SELECT meta.prio AS prio, count(*) AS n,
         |       count(meta.cust) AS n_cust, count(meta.flag) AS n_flag
         |FROM $name GROUP BY meta.prio ORDER BY prio""".stripMargin)
  }

  /** Q107b: TYPE WIDENING through ARRAY ELEMENTS — `ALTER COLUMN
    * xs.element TYPE BIGINT` and `ALTER COLUMN frames.element.cnt TYPE
    * BIGINT` (the Spark/Delta `element` addressing convention): the same
    * metadata-only contract inside arrays — old files keep narrow
    * elements and upcast at scan, post-widen writes store wide, time
    * travel reads the addressed commit's narrow array types — pinned
    * in-query with the zero-rewrite claim; the oracle replays both
    * generations' array arithmetic relationally. */
  def q107bArrayWidening(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq107b", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq107b", log)
    val loc = Files.createTempDirectory("graft_q107b").toUri
    val name = "graftq107b.g.ord_awide"
    s.sql(
      s"""CREATE TABLE $name (
         |  o_orderkey BIGINT, xs ARRAY<INT>, frames ARRAY<STRUCT<cnt: INT>>,
         |  o_orderstatus STRING)
         |USING parquet PARTITIONED BY (o_orderstatus) LOCATION '$loc'""".stripMargin)
    Tables.load(s, dir, "orders").createOrReplaceTempView("q107b_orders")
    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey,
         |       array(CAST(o_orderkey % 100 AS INT), 1),
         |       array(named_struct('cnt', CAST(o_orderkey % 50 AS INT))),
         |       o_orderstatus
         |FROM q107b_orders WHERE o_orderkey % 2 = 0""".stripMargin)
    val tn = TableName("g", "ord_awide")
    val v1 = log.currentCommit(tn)
    val v1Files = s.table(name).inputFiles.toSet

    s.sql(s"ALTER TABLE $name ALTER COLUMN xs.element TYPE BIGINT")
    s.sql(s"ALTER TABLE $name ALTER COLUMN frames.element.cnt TYPE BIGINT")
    def elemType(df: DataFrame, c: String): org.apache.spark.sql.types.DataType =
      df.schema(c).dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    require(elemType(s.table(name), "xs").catalogString == "bigint",
      "the declared array element must widen")
    require(elemType(s.table(name), "frames")
      .asInstanceOf[org.apache.spark.sql.types.StructType]("cnt")
      .dataType.catalogString == "bigint",
      "the declared struct-in-array leaf must widen")
    require(v1Files.subsetOf(s.table(name).inputFiles.toSet),
      "the array widen must be metadata-only — no v1 file rewritten")

    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey,
         |       array(o_orderkey * 1000000000, 1L),
         |       array(named_struct('cnt', o_orderkey * 1000000000)),
         |       o_orderstatus
         |FROM q107b_orders WHERE o_orderkey % 2 = 1""".stripMargin)

    require(elemType(
      s.sql(s"SELECT * FROM $name VERSION AS OF '${v1.id}'"), "xs")
      .catalogString == "int",
      "time travel at v1 must read the narrow array element type")

    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n,
         |       sum(xs[0] + xs[1]) AS sum_xs,
         |       sum(frames[0].cnt) AS sum_cnt
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q109: AUTOMATIC TYPE WIDENING on ingest
    * ([[graft.spark.ColumnMapping.numericWidenings]], the Delta
    * typeWidening contract) — a table declaring
    * `graft.dml.typeWidening=true` WIDENS itself when a MERGE source
    * carries losslessly wider numeric leaves (int→bigint at top level AND
    * inside a struct here) instead of failing the ANSI down-cast: the
    * widen lands as metadata-only path-keyed mapping entries DECLARED
    * before the data (a widen alone is benign; data-first would open a
    * mixed-width-footers window), the audit trail names the widened
    * paths, and time travel before the widening merge reads the narrow
    * types — pinned in-query; the oracle replays both generations'
    * arithmetic relationally. */
  def q109AutoTypeWidening(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq109", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq109", log)
    val loc = Files.createTempDirectory("graft_q109").toUri
    val name = "graftq109.g.ord_twide"
    s.sql(
      s"""CREATE TABLE $name (
         |  o_orderkey BIGINT, qty INT, meta STRUCT<cnt: INT>, o_orderstatus STRING)
         |USING parquet PARTITIONED BY (o_orderstatus) LOCATION '$loc'
         |TBLPROPERTIES ('graft.dml.typeWidening' = 'true')""".stripMargin)
    Tables.load(s, dir, "orders").createOrReplaceTempView("q109_orders")
    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey, CAST(o_orderkey % 1000 AS INT),
         |       named_struct('cnt', CAST(o_orderkey % 500 AS INT)), o_orderstatus
         |FROM q109_orders WHERE o_orderkey % 2 = 0""".stripMargin)
    val tn = TableName("g", "ord_twide")
    val preMerge = log.currentCommit(tn)

    // the MERGE source carries BIGINT leaves with values int cannot hold
    s.sql(
      s"""SELECT o_orderkey, o_orderkey * 1000000000 AS qty,
         |       named_struct('cnt', o_orderkey * 1000000000) AS meta, o_orderstatus
         |FROM q109_orders WHERE o_orderkey % 2 = 1""".stripMargin)
      .createOrReplaceTempView("q109_src")
    s.sql(
      s"""MERGE INTO $name t USING q109_src s ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    require(s.table(name).schema("qty").dataType.catalogString == "bigint" &&
      s.table(name).schema("meta").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]("cnt")
        .dataType.catalogString == "bigint",
      "the declared leaves must auto-widen under the table property")
    require(log.updates(tn).map(_.message.content)
      .exists(_.contains("WIDEN TYPES (meta.cnt, qty)")),
      "the auto-widen must be an auditable history entry naming the paths")
    require(
      s.sql(s"SELECT * FROM $name VERSION AS OF '${preMerge.id}'")
        .schema("qty").dataType.catalogString == "int",
      "time travel before the widening merge must read the narrow type")

    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n,
         |       sum(qty) AS sum_qty, sum(meta.cnt) AS sum_cnt
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q108: SHOW CREATE TABLE ([[graft.spark.GraftShowCreateTableCommand]])
    * — the full round-trippable DDL script: CREATE (schema, format,
    * partitioning, LOCATION, TBLPROPERTIES) plus one ALTER per sidecar
    * declaration (CHECK constraint, generated column WITH its recorded
    * type, identity column, column default). The query pins the script
    * content, REPLAYS it re-pointed onto a second table, pins that every
    * declaration list reproduced exactly, then loads the RECREATED table
    * through its carried declarations (identity stamps, generation
    * derives, constraint enforces) — the returned aggregate runs over the
    * recreated table, so the oracle match IS the round-trip proof. */
  def q108ShowCreate(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq108", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq108", log)
    val srcLoc = Files.createTempDirectory("graft_q108_src").toUri
    val src = "graftq108.g.cust_ddl"
    s.sql(
      s"""CREATE TABLE $src (
         |  c_custkey BIGINT NOT NULL, c_acctbal DOUBLE, c_mktsegment STRING)
         |USING parquet PARTITIONED BY (c_mktsegment) LOCATION '$srcLoc'
         |TBLPROPERTIES ('graft.compact.minFiles' = '7', 'team' = 'pipeline')""".stripMargin)
    s.sql(s"ALTER TABLE $src ADD CONSTRAINT bal_known CHECK (c_acctbal > -1000.0)")
    s.sql(s"ALTER TABLE $src ADD COLUMN seg_lower STRING GENERATED ALWAYS AS (lower(c_mktsegment))")
    s.sql(s"ALTER TABLE $src ADD COLUMN rid BIGINT GENERATED ALWAYS AS IDENTITY")
    s.sql(s"ALTER TABLE $src ALTER COLUMN c_acctbal SET DEFAULT 0.0")

    val script = s.sql(s"SHOW CREATE TABLE $src").head().getString(0)
    for (piece <- Seq(
        "c_custkey` BIGINT NOT NULL", "PARTITIONED BY (`c_mktsegment`)",
        "'team' = 'pipeline'", "ADD CONSTRAINT bal_known CHECK (c_acctbal > -1000.0)",
        "ADD COLUMN seg_lower STRING GENERATED ALWAYS AS (lower(c_mktsegment))",
        "ADD COLUMN rid BIGINT GENERATED ALWAYS AS IDENTITY",
        "ALTER COLUMN c_acctbal SET DEFAULT 0.0"))
      require(script.contains(piece), s"SHOW CREATE TABLE must emit: $piece")

    // REPLAY the script re-pointed: new name, fresh location
    val emittedLoc = "LOCATION '([^']+)'".r.findFirstMatchIn(script).get.group(1)
    val dstLoc = Files.createTempDirectory("graft_q108_dst").toUri
    val dst = "graftq108.g.cust_ddl2"
    script.replace(src, dst)
      .replace(s"LOCATION '$emittedLoc'", s"LOCATION '$dstLoc'")
      .split(";\n").foreach(stmt => s.sql(stmt).collect())

    // every declaration kind reproduced exactly
    val parts = PartitionSchema(List(PartitionColumn("c_mktsegment")))
    val srcDefn = TableDefinition(
      TableName("g", "cust_ddl"), new java.net.URI(emittedLoc), parts, FileFormat.Parquet)
    val dstDefn = TableDefinition(
      TableName("g", "cust_ddl2"), dstLoc, parts, FileFormat.Parquet)
    require(graft.spark.TableProperties.list(s, log, dstDefn) ==
      graft.spark.TableProperties.list(s, log, srcDefn),
      "TBLPROPERTIES must round-trip")
    require(graft.spark.Constraints.list(s, log, dstDefn).map(c => (c.name, c.expr)) ==
      graft.spark.Constraints.list(s, log, srcDefn).map(c => (c.name, c.expr)),
      "constraints must round-trip")
    require(graft.spark.GeneratedColumns.list(s, log, dstDefn).map(g => (g.column, g.expr)) ==
      graft.spark.GeneratedColumns.list(s, log, srcDefn).map(g => (g.column, g.expr)),
      "generation rules must round-trip")
    require(graft.spark.ColumnDefaults.list(s, log, dstDefn) ==
      graft.spark.ColumnDefaults.list(s, log, srcDefn),
      "column defaults must round-trip")
    require(graft.spark.IdentityColumns.declared(s, log, dstDefn).contains("rid"),
      "the identity declaration must round-trip")

    // load the RECREATED table through its carried declarations: identity
    // stamps, generation derives, the constraint admits the batch
    Tables.load(s, dir, "customer").createOrReplaceTempView("q108_cust")
    s.sql(
      s"""INSERT INTO $dst (c_custkey, c_acctbal, c_mktsegment)
         |SELECT c_custkey, c_acctbal, c_mktsegment FROM q108_cust""".stripMargin)

    s.sql(
      s"""SELECT c_mktsegment, seg_lower, count(*) AS n,
         |       count(DISTINCT rid) AS n_ids,
         |       round(sum(c_acctbal), 2) AS sum_bal
         |FROM $dst GROUP BY c_mktsegment, seg_lower ORDER BY c_mktsegment""".stripMargin)
  }

  /** Q107: NESTED-FIELD TYPE WIDENING ([[graft.spark.ColumnMapping.widenPath]])
    * — `ALTER TABLE t ALTER COLUMN meta.cnt TYPE BIGINT` as a path-keyed
    * column-mapping entry, metadata-only at depth: files written before
    * the widen keep the narrow struct leaf (int/float) and upcast at scan
    * (every read path requests the wide struct), post-widen writes store
    * the wide leaf (values only bigint/double can hold), DML crosses the
    * mixed-width state, and TIME TRAVEL at-or-before the widen reads the
    * narrow struct (commit-anchored schema states + the at-or-before
    * mapping discipline) — all pinned in-query, including the
    * zero-file-rewrite claim; the oracle replays both generations
    * relationally (min/max on the float-cast leaf — order-independent). */
  def q107NestedWidening(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq107", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq107", log)
    val loc = Files.createTempDirectory("graft_q107").toUri
    val name = "graftq107.g.ord_nwide"
    s.sql(
      s"""CREATE TABLE $name (
         |  o_orderkey BIGINT, meta STRUCT<cnt: INT, price: FLOAT>, o_orderstatus STRING)
         |USING parquet PARTITIONED BY (o_orderstatus) LOCATION '$loc'""".stripMargin)
    Tables.load(s, dir, "orders").createOrReplaceTempView("q107_orders")
    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey,
         |       named_struct('cnt', CAST(o_orderkey % 1000 AS INT),
         |                    'price', CAST(o_totalprice AS FLOAT)) AS meta,
         |       o_orderstatus
         |FROM q107_orders WHERE o_orderkey % 2 = 0""".stripMargin)
    val tn = TableName("g", "ord_nwide")
    val v1 = log.currentCommit(tn)
    val v1Files = s.table(name).inputFiles.toSet

    def metaType(df: DataFrame): org.apache.spark.sql.types.StructType =
      df.schema.fields.find(_.name == "meta").get.dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]

    s.sql(s"ALTER TABLE $name ALTER COLUMN meta.cnt TYPE BIGINT")
    s.sql(s"ALTER TABLE $name ALTER COLUMN meta.price TYPE DOUBLE")
    require(log.updates(tn).map(_.message.content)
      .contains("ALTER TABLE ALTER COLUMN meta.cnt TYPE bigint"),
      "the nested widen must be an auditable history entry")
    require(metaType(s.table(name))("cnt").dataType.catalogString == "bigint" &&
      metaType(s.table(name))("price").dataType.catalogString == "double",
      "current reads must declare the widened struct leaves")
    require(v1Files.subsetOf(s.table(name).inputFiles.toSet),
      "the widen must be metadata-only — no v1 file rewritten")

    // the WIDE generation: leaf values only bigint/double can hold
    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey,
         |       named_struct('cnt', o_orderkey * 1000000000,
         |                    'price', o_totalprice) AS meta,
         |       o_orderstatus
         |FROM q107_orders WHERE o_orderkey % 2 = 1""".stripMargin)

    // time travel BEFORE the widen reads the narrow struct leaves
    val atV1 = s.sql(s"SELECT * FROM $name VERSION AS OF '${v1.id}'")
    require(metaType(atV1)("cnt").dataType.catalogString == "int" &&
      metaType(atV1)("price").dataType.catalogString == "float",
      "time travel at v1 must read the narrow leaf types")

    // DML across the mixed-width state addresses the widened leaf
    s.sql(s"DELETE FROM $name WHERE o_orderkey % 19 = 0")

    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n,
         |       sum(meta.cnt) AS sum_cnt,
         |       min(meta.price) AS min_price, max(meta.price) AS max_price
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q97: MERGE-ON-READ REPLACE WHERE ([[graft.spark.RowOverlay.replaceWhere]])
    * — q91's general-predicate tier under `spark.graft.dml.mergeOnRead=true`:
    * the matched region hides behind deletion-vector pairs and the incoming
    * rows ride the row overlay, ONE scoped-OCC commit with ZERO partition
    * rewrites — pinned in-query by fold equality (every version pointer
    * unmoved), the arbitrary-region backfill shape at 100 TB. The oracle
    * replays the region replacement relationally. */
  def q97MorReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq97", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq97", log)
    val table = tempTable(
      "li_morrw", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_morrw"))
    graft.spark.GraftTableCatalog.register("graftq97", table)
    val name = s"graftq97.${table.name.schema}.${table.name.name}"
    Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey", "l_returnflag")
      .agg(sum("l_quantity").as("qty"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: rollup"))

    val before = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => sys.error(s"unexpected fold $other")
    }
    graft.spark.SessionConf.withConf(s, "spark.graft.dml.mergeOnRead", "true") {
      s.sql(
        s"""INSERT INTO $name REPLACE WHERE l_returnflag = 'N' AND l_orderkey % 10 = 0
           |SELECT l_orderkey, l_returnflag, qty * 2 AS qty FROM $name
           |WHERE l_returnflag = 'N' AND l_orderkey % 10 = 0 AND qty > 30""".stripMargin)
    }
    val after = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => sys.error(s"unexpected fold $other")
    }
    require(after == before,
      "merge-on-read REPLACE WHERE must move NO version pointer — the region " +
        "hides behind vectors and the rows ride the overlay")
    require(log.updates(table.name).head.message.content.contains("merge-on-read"),
      "the overwrite must land as one auditable commit")

    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
         |FROM $name GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q98: SQL MULTI-TABLE TRANSACTIONS (`BEGIN GRAFT TRANSACTION` /
    * `STAGE INSERT INTO` / `COMMIT GRAFT TRANSACTION` — q79's
    * [[graft.core.TableVersions.commitAll]] marker protocol, SQL-driven):
    * a fact table and its rollup move together or not at all. Pinned
    * in-query: staged writes are INVISIBLE until the commit statement
    * (both tables read their pre-transaction state mid-transaction), a
    * ROLLBACK abandons its stage with no pointer move, and each committed
    * transaction leaves exactly one WAL marker in the durable log. The
    * oracle replays the final cross-table-consistent state. */
  def q98SqlTxn(s: SparkSession, dir: String): DataFrame = {
    val logDir = Files.createTempDirectory("graft_sqltxn")
    val log = graft.core.JsonFileTableVersions(logDir.toString)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq98", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq98", log)
    val detail = tempTable(
      "li_sqltxn_detail", PartitionSchema(List(PartitionColumn("l_returnflag"))),
      FileFormat.Parquet)
    val summary = tempTable("li_sqltxn_summary", PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(detail, user, UpdateMessage("create detail"))
    ctx.init(summary, user, UpdateMessage("create summary"))
    val dName = s"graftq98.${detail.name.schema}.${detail.name.name}"
    val sName = s"graftq98.${summary.name.schema}.${summary.name.name}"
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    li.createOrReplaceTempView("q98_li")
    // registered schemas: a never-written table must still read (empty)
    // mid-transaction — the invisibility pin below depends on it
    graft.spark.GraftTableCatalog.register("graftq98", detail, Some(li.schema))
    graft.spark.GraftTableCatalog.register("graftq98", summary, Some(
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty")).schema))

    // txn 1: full load + its rollup — one atomic commit point
    s.sql("BEGIN GRAFT TRANSACTION")
    s.sql(s"STAGE INSERT INTO $dName SELECT * FROM q98_li")
    s.sql(
      s"""STAGE INSERT OVERWRITE $sName
         |SELECT l_returnflag, count(*) AS n_items, sum(l_quantity) AS sum_qty
         |FROM q98_li GROUP BY l_returnflag""".stripMargin)
    // ATOMICITY: staged writes are invisible until COMMIT — both tables
    // still serve their pre-transaction (empty) state
    require(s.table(dName).isEmpty && s.table(sName).isEmpty,
      "staged writes must be invisible before COMMIT GRAFT TRANSACTION")
    s.sql("COMMIT GRAFT TRANSACTION")
    require(!s.table(dName).isEmpty && !s.table(sName).isEmpty,
      "COMMIT must expose both tables together")
    require(java.nio.file.Files.list(logDir.resolve("_txns")).count() == 1L,
      "each committed transaction leaves exactly one WAL marker")

    // ROLLBACK abandons the stage: no pointer moves, no marker
    val beforeRollback =
      (log.currentCommit(detail.name), log.currentCommit(summary.name))
    s.sql("BEGIN GRAFT TRANSACTION")
    s.sql(s"STAGE INSERT INTO $dName SELECT * FROM q98_li WHERE l_quantity > 45")
    s.sql("ROLLBACK GRAFT TRANSACTION")
    require(beforeRollback ==
      (log.currentCommit(detail.name), log.currentCommit(summary.name)),
      "ROLLBACK must move no pointer")

    // txn 2: REFRESH the R partition AND the matching summary — together.
    // OVERWRITE is dynamic partition overwrite at stage granularity: the
    // detail's R partition replaces, A/N keep their pointers; the snapshot
    // summary replaces wholesale
    s.sql("BEGIN GRAFT TRANSACTION")
    s.sql(
      s"""STAGE INSERT OVERWRITE $dName
         |SELECT * FROM q98_li WHERE l_returnflag = 'R' AND l_quantity > 40""".stripMargin)
    s.sql(
      s"""STAGE INSERT OVERWRITE $sName
         |SELECT l_returnflag, count(*) AS n_items, sum(l_quantity) AS sum_qty
         |FROM (
         |  SELECT * FROM q98_li WHERE l_returnflag <> 'R'
         |  UNION ALL
         |  SELECT * FROM q98_li WHERE l_returnflag = 'R' AND l_quantity > 40
         |) GROUP BY l_returnflag""".stripMargin)
    s.sql("COMMIT GRAFT TRANSACTION")
    require(java.nio.file.Files.list(logDir.resolve("_txns")).count() == 2L,
      "the second transaction leaves the second marker")

    // cross-table consistency: the summary IS the rollup of the detail
    val fromDetail = s.table(dName).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
    val summ = s.table(sName)
    require(summ.exceptAll(fromDetail).isEmpty && fromDetail.exceptAll(summ).isEmpty,
      "summary must equal the rollup of the detail it committed with")

    summ.select(
        col("l_returnflag"), col("n_items"), round(col("sum_qty"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Q99: COPY INTO SCHEMA EVOLUTION ([[graft.spark.CopyInto]] under
    * `spark.graft.dml.autoMergeSchema`, the q94 contract applied to
    * ingest): a second landing batch arrives CARRYING A NEW COLUMN — the
    * declared schema widens (nullable, one metadata audit commit after
    * the data commit), the first batch's rows read the column as typed
    * NULL, and the ingest keeps its idempotent load-history semantics.
    * Without the flag the registered schema pins the read (the existing
    * contract). The oracle replays the two-generation union. */
  def q99CopyEvolution(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq99", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq99", log)
    val table = tempTable(
      "li_copyev", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_copyev"))
    graft.spark.GraftTableCatalog.register("graftq99", table)
    val name = s"graftq99.${table.name.schema}.${table.name.name}"
    val li = Tables.load(s, dir, "lineitem")

    val src = Files.createTempDirectory("graft_copyev_src")
    def land(df: DataFrame, prefix: String): Unit = {
      val tmp = Files.createTempDirectory("graft_copyev_tmp")
      df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val stream = java.nio.file.Files.list(tmp)
      try stream.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .zipWithIndex.foreach { case (p, i) =>
          java.nio.file.Files.move(p, src.resolve(s"${prefix}_$i.parquet")); ()
        }
      finally stream.close()
    }
    def copy(): org.apache.spark.sql.Row = s.sql(
      s"COPY INTO $name FROM '$src' FILEFORMAT = PARQUET").collect().head

    // batch 1: the original three-column shape
    land(li.where(col("l_orderkey") % 2 === 0)
      .select("l_orderkey", "l_quantity", "l_returnflag"), "b1")
    copy()
    require(!s.table(name).columns.exists(_.equalsIgnoreCase("disc")),
      "the first batch must not carry the evolved column")

    // batch 2 arrives WITH a new column; under autoMergeSchema the ingest
    // widens instead of dropping it
    land(li.where(col("l_orderkey") % 2 === 1)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
        col("l_discount").as("disc")), "b2")
    graft.spark.SessionConf.withConf(s, "spark.graft.dml.autoMergeSchema", "true") {
      copy()
    }
    require(log.updates(table.name).map(_.message.content)
      .exists(_.startsWith("COPY INTO SCHEMA EVOLUTION ADD COLUMNS (disc)")),
      "the widening must land as an auditable metadata-only commit")
    val after = s.table(name)
    require(after.columns.exists(_.equalsIgnoreCase("disc")),
      "the declared schema must carry the evolved column")
    require(after.where(col("l_orderkey") % 2 === 0 && col("disc").isNotNull).isEmpty,
      "first-batch rows must read the evolved column as NULL")

    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_rows, count(disc) AS n_disc,
         |       round(sum(l_quantity), 2) AS sum_qty,
         |       round(sum(coalesce(disc, 0.0)), 4) AS sum_disc
         |FROM $name GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Q100: GENERALIZED MERGE ON CONDITIONS ([[graft.spark.GraftDmlRule]]
    * round 18) — the ON clause joins DIFFERING column names
    * (`t.l_orderkey = s.src_key`) and carries a RESIDUAL conjunct beyond
    * the equi key (`s.status = 'F'`), evaluated with SQL ON semantics
    * inside the clause join: a source row failing the residual is NOT
    * matched, so it falls to the `WHEN NOT MATCHED` insert even though
    * its key exists in the target. Delta/Iceberg accept arbitrary ON
    * conditions the same way; the reference (a versioning layer over
    * Spark SQL) inherits whatever the session's MERGE supports. */
  def q100GeneralizedMerge(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq100", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq100", log)
    val table = tempTable(
      "li_genmerge", PartitionSchema(List(PartitionColumn("flag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_genmerge"))
    graft.spark.GraftTableCatalog.register("graftq100", table)
    val name = s"graftq100.${table.name.schema}.${table.name.name}"
    Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(min("l_returnflag").as("flag"), round(sum("l_quantity"), 2).as("qty"))
      .select("l_orderkey", "qty", "flag")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: rollup"))
    Tables.load(s, dir, "orders")
      .where(col("o_orderkey") % 30 === 0)
      .select(col("o_orderkey").as("src_key"), col("o_orderstatus").as("status"))
      .createOrReplaceTempView("q100_src")

    // every source key EXISTS in the target — only the residual decides
    // who matches: status='F' rows update, the rest insert under a
    // shifted key into the 'X' partition
    s.sql(
      s"""MERGE INTO $name t USING q100_src s
         |ON t.l_orderkey = s.src_key AND s.status = 'F'
         |WHEN MATCHED THEN UPDATE SET qty = t.qty + 1000
         |WHEN NOT MATCHED THEN INSERT (l_orderkey, qty, flag)
         |  VALUES (s.src_key + 50000000, 1.0, 'X')""".stripMargin)

    s.sql(
      s"""SELECT flag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
         |FROM $name GROUP BY flag ORDER BY flag""".stripMargin)
  }

  /** Q101: NESTED-FIELD DML ([[graft.spark.GraftDmlRule]] round 18,
    * pairing with q96's nested schema evolution) — `UPDATE … SET
    * meta.prio = …` and `MERGE … WHEN MATCHED THEN UPDATE SET meta.cust
    * = …` fold into ONE struct rebuild per root column (untouched fields
    * carry), on both write paths: copy-on-write (partition rewrite) and
    * merge-on-read (vectors + overlay; fold-pin asserted in-query). The
    * Delta posture for evolving LLM-pipeline metadata structs. */
  def q101NestedDml(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq101", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq101", log)
    val table = tempTable(
      "ord_nested", PartitionSchema(List(PartitionColumn("status"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create ord_nested"))
    graft.spark.GraftTableCatalog.register("graftq101", table)
    val name = s"graftq101.${table.name.schema}.${table.name.name}"
    Tables.load(s, dir, "orders")
      .select(
        col("o_orderkey").as("k"),
        struct(
          col("o_orderpriority").as("prio"),
          col("o_custkey").cast("string").as("cust")).as("meta"),
        col("o_orderstatus").as("status"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    // 1. copy-on-write nested UPDATE: prio flips, cust carries
    s.sql(s"UPDATE $name SET meta.prio = 'HOT' WHERE k % 10 = 0")
    // 2. merge-on-read nested UPDATE (two fields would also fold; one
    // here): zero pointer moves, pinned
    val foldBefore = log.currentVersion(table.name)
    graft.spark.SessionConf.withConf(s, "spark.graft.dml.mergeOnRead", "true") {
      s.sql(s"UPDATE $name SET meta.cust = concat('c', meta.cust) WHERE k % 7 = 0")
    }
    require(log.currentVersion(table.name) == foldBefore,
      "merge-on-read nested UPDATE must not move version pointers")
    // 3. MERGE nested SET: k % 13 keys take prio 'M13' (overwriting any
    // step-1 'HOT' on the overlap — statement order is the contract)
    s.sql(
      s"""MERGE INTO $name t USING
         |  (SELECT k AS mk FROM $name WHERE k % 13 = 0) s ON t.k = s.mk
         |WHEN MATCHED THEN UPDATE SET meta.prio = 'M13'""".stripMargin)

    s.sql(
      s"""SELECT meta.prio AS prio, count(*) AS n,
         |       count(CASE WHEN substr(meta.cust, 1, 1) = 'c' THEN 1 END) AS n_tagged
         |FROM $name GROUP BY meta.prio ORDER BY prio""".stripMargin)
  }

  /** Q102: COPY-ON-WRITE PARTITION-COLUMN UPDATE (row migration,
    * [[graft.spark.GraftDmlRule.GraftUpdateCommand]] round 18) — `UPDATE
    * … SET <partition col> = …` moves rows between partitions in ONE
    * atomic commit: source ∪ destination partitions rewrite, a source
    * emptied of everything drops its partition in the same commit, and
    * untouched partitions keep their version pointers (pinned in-query).
    * Delta allows partition-column UPDATE the same way; the previous
    * refusal is lifted on both write paths. */
  def q102PartitionMigrate(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq102", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq102", log)
    val table = tempTable(
      "li_migrate", PartitionSchema(List(PartitionColumn("flag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_migrate"))
    graft.spark.GraftTableCatalog.register("graftq102", table)
    val name = s"graftq102.${table.name.schema}.${table.name.name}"
    Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey", "l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("qty"))
      .select(col("l_orderkey"), col("qty"), col("l_returnflag").as("flag"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: rollup"))
    def fold() = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => sys.error(s"unexpected fold $other")
    }
    val before = fold()
    def part(v: String) = Partition(ColumnValue(PartitionColumn("flag"), v))

    // partial migration: every 5th 'N' key moves into a BRAND-NEW 'M'
    // partition; 'A'/'R' pointers must not move
    s.sql(s"UPDATE $name SET flag = 'M' WHERE flag = 'N' AND l_orderkey % 5 = 0")
    val mid = fold()
    require(mid.contains(part("M")), "migration must create the destination partition")
    require(mid(part("A")) == before(part("A")) && mid(part("R")) == before(part("R")),
      "untouched partitions must keep their version pointers")
    // full migration: ALL of 'A' moves into 'M' (qty doubled) — the
    // emptied source partition drops in the SAME commit
    val commits = log.updates(table.name).size
    s.sql(s"UPDATE $name SET flag = 'M', qty = qty * 2 WHERE flag = 'A'")
    val after = fold()
    require(log.updates(table.name).size == commits + 1,
      "migration + source removal must be ONE atomic commit")
    require(!after.contains(part("A")), "a fully-emptied source partition must drop")
    require(after(part("R")) == before(part("R")), "'R' never moves")

    s.sql(
      s"""SELECT flag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
         |FROM $name GROUP BY flag ORDER BY flag""".stripMargin)
  }

  /** Q103: CONVERT TO GRAFT ([[graft.spark.ConvertToGraft]]) — in-place
    * adoption of a pre-existing PLAIN parquet directory (written by stock
    * Spark, no versioning layer anywhere) as a versioned table: every
    * data file RENAMES into one minted version label (no byte copy; the
    * move distributes as a Spark job at scale), one commit registers
    * every partition. The adopted table is then a full citizen: the
    * query proves it by running SQL DELETE DML on it and time-traveling
    * back to the exact converted state — both pinned in-query. */
  def q103Convert(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq103", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq103", log)
    // pre-existing data: a plain Hive-partitioned write, as any non-graft
    // pipeline would have produced it
    val loc = Files.createTempDirectory("graft_q103_plain")
    Tables.load(s, dir, "customer")
      .select("c_custkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").partitionBy("c_mktsegment").parquet(loc.toString)

    val name = "graftq103.g.cust_conv"
    val res = s.sql(
      s"CONVERT TO GRAFT $name FROM '${loc.toString}' " +
        "PARTITIONED BY (c_mktsegment)").collect()
    require(res.head.getInt(1) == 5,
      s"customer has 5 market segments; CONVERT registered ${res.head.getInt(1)}")
    require(!Files.exists(loc.resolve(graft.spark.ConvertToGraft.MarkerName)),
      "the convert marker must be gone after a completed conversion")
    val tname = TableName("g", "cust_conv")
    val converted = log.currentCommit(tname)
    val full = s.sql(s"SELECT count(*) FROM $name").head().getLong(0)

    // the adopted table runs ordinary versioned DML
    s.sql(s"DELETE FROM $name WHERE c_custkey % 3 = 0")
    require(
      s.sql(s"SELECT count(*) FROM $name").head().getLong(0) < full,
      "DELETE on the converted table must hide rows")
    // and time travel reaches the exact adopted state
    require(
      s.sql(s"SELECT count(*) FROM $name VERSION AS OF '${converted.id}'")
        .head().getLong(0) == full,
      "time travel must read the converted state unchanged")

    s.sql(
      s"""SELECT c_mktsegment, count(*) AS n_cust,
         |       round(sum(c_acctbal), 2) AS sum_bal
         |FROM $name GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  /** Q104: DEEP CLONE ([[graft.spark.DeepClone]]) — an independent
    * physical copy of the RESOLVED cloned state (deletion vectors
    * applied, zero sidecar debt) plus the source's declarations, at the
    * clone's own location. Unlike q73's shallow fork there is NO vacuum
    * coupling: the query pins that VACUUM runs on the source right after
    * cloning (a shallow link refuses), that the clone carries no
    * vectors, and that post-clone DML on either side never leaks to the
    * other. The oracle replays both lineages relationally. */
  def q104DeepClone(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq104", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq104", log)
    val table = tempTable(
      "ord_deep", PartitionSchema(List(PartitionColumn("o_orderstatus"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create ord_deep"))
    graft.spark.GraftTableCatalog.register("graftq104", table)
    val srcName = s"graftq104.${table.name.schema}.${table.name.name}"
    Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: all orders"))
    // live merge-on-read vectors at clone time: %3 rows hidden
    graft.spark.DeletionVectors.delete(
      ctx, log, table, col("o_orderkey") % 3 === 0, user, UpdateMessage("dv: %3"))

    val cloned = s.sql(
      s"CREATE TABLE graftq104.g.ord_deep_copy DEEP CLONE $srcName").collect()
    val cloneName = "graftq104.g.ord_deep_copy"
    val cloneDefn = TableName("g", "ord_deep_copy")
    require(cloned.head.getString(2) != table.location.toString,
      "a deep clone must live at its OWN location")
    // resolved copy: the hidden rows are GONE from the clone's files —
    // no vectors carried, nothing left to apply
    require(!graft.spark.DeletionVectors.hasVectors(
      spark = s, log = log,
      table = TableDefinition(
        cloneDefn, new java.net.URI(cloned.head.getString(2)),
        table.partitionSchema, table.format),
      at = None), "a deep clone must carry ZERO sidecar debt")
    // no vacuum coupling: VACUUM on the source runs (a shallow link refuses)
    s.sql(s"VACUUM $srcName RETAIN 1000 HOURS DRY RUN").collect()

    // post-clone DML diverges freely: %7 deletes on the CLONE only
    s.sql(s"DELETE FROM $cloneName WHERE o_orderkey % 7 = 0")
    val srcHead = log.currentCommit(table.name)
    require(srcHead == log.updates(table.name).head.id &&
      s.sql(s"SELECT count(*) FROM $srcName").head().getLong(0) >
        s.sql(s"SELECT count(*) FROM $cloneName").head().getLong(0),
      "clone DML must never touch the source")

    // RAW-COPY tier: after its copy-on-write delete the clone is
    // sidecar-free, so deep-cloning IT byte-copies data files as
    // distributed per-file tasks (storage bandwidth, no decode/encode) —
    // pinned by the audited tier line and per-file byte-size identity
    val clone2 = s.sql(
      s"CREATE TABLE graftq104.g.ord_deep_copy2 DEEP CLONE $cloneName").collect()
    require(log.updates(TableName("g", "ord_deep_copy2")).map(_.message.content)
      .exists(_.contains("raw file copy")),
      "a sidecar-free source must deep-clone via the raw-copy tier")
    def sizesUnder(root: String, files: Array[String]): Map[String, Long] = {
      val rootPath = java.nio.file.Paths.get(new java.net.URI(root))
      files.map { f =>
        val p = java.nio.file.Paths.get(new java.net.URI(f))
        rootPath.relativize(p).toString -> java.nio.file.Files.size(p)
      }.toMap
    }
    require(
      sizesUnder(cloned.head.getString(2), s.table(cloneName).inputFiles) ==
        sizesUnder(clone2.head.getString(2),
          s.table("graftq104.g.ord_deep_copy2").inputFiles),
      "the raw-copy tier must reproduce byte-identical data files")

    s.sql(
      s"""SELECT 'source' AS section, o_orderstatus AS grp, count(*) AS n_rows,
         |       round(sum(o_totalprice), 2) AS total
         |FROM $srcName GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'clone', o_orderstatus, count(*), round(sum(o_totalprice), 2)
         |FROM $cloneName GROUP BY o_orderstatus
         |ORDER BY section, grp""".stripMargin)
  }

  /** Q105: TBLPROPERTIES ([[graft.spark.TableProperties]]) — per-table
    * behavior pinning (the Delta `delta.*`-property posture): a table
    * declared `graft.dml.mergeOnRead=true` takes the vectors+overlay DML
    * path with NO session conf anywhere (fold equality pinned), flipping
    * the property via `ALTER TABLE … SET TBLPROPERTIES` switches the next
    * DELETE back to copy-on-write (pointer move pinned), and SHOW
    * TBLPROPERTIES serves the declared set. Resolution is table property
    * first, session conf fallback. The oracle replays the surviving
    * rows. */
  def q105TblProperties(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq105", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq105", log)
    val loc = Files.createTempDirectory("graft_q105").toUri
    val name = "graftq105.g.ord_props"
    s.sql(
      s"""CREATE TABLE $name (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (o_orderstatus) LOCATION '$loc'
         |TBLPROPERTIES ('graft.dml.mergeOnRead' = 'true')""".stripMargin)
    Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .createOrReplaceTempView("q105_src")
    s.sql(s"INSERT INTO $name SELECT * FROM q105_src")
    val tname = TableName("g", "ord_props")

    // mergeOnRead rides the TABLE property — no session conf is set: the
    // DELETE and the UPDATE must move ZERO version pointers
    val fold0 = log.currentVersion(tname)
    s.sql(s"DELETE FROM $name WHERE o_orderkey % 4 = 0")
    s.sql(s"UPDATE $name SET o_totalprice = o_totalprice + 1 WHERE o_orderkey % 10 = 5")
    require(log.currentVersion(tname) == fold0,
      "a mergeOnRead=true table's DML must ride vectors/overlay (no pointer moves)")

    // flip the property: the next DELETE is copy-on-write again
    s.sql(s"ALTER TABLE $name SET TBLPROPERTIES ('graft.dml.mergeOnRead' = 'false')")
    val shown = s.sql(s"SHOW TBLPROPERTIES $name")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    require(shown.get("graft.dml.mergeOnRead").contains("false"),
      "SHOW TBLPROPERTIES must serve the updated declaration")
    s.sql(s"DELETE FROM $name WHERE o_orderkey % 9 = 0")
    require(log.currentVersion(tname) != fold0,
      "with the property off, DELETE must rewrite copy-on-write (pointers move)")

    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |       round(sum(o_totalprice), 2) AS total
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q106: TRUNCATE TABLE + ordinal VERSION AS OF — TRUNCATE is ONE
    * metadata-only commit (no file moves; the pre-truncate state stays
    * addressable), and `VERSION AS OF '<n>'` addresses DESCRIBE
    * HISTORY's `commit_index` coordinate directly (1-based, oldest = 1 —
    * the numeric-version UX), with ref names still winning and
    * out-of-range indices refusing. The table refills after the truncate
    * and the oracle replays the final contents. */
  def q106TruncateOrdinal(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq106", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq106", log)
    val table = tempTable(
      "ord_trunc", PartitionSchema(List(PartitionColumn("o_orderstatus"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create ord_trunc"))
    graft.spark.GraftTableCatalog.register("graftq106", table)
    val name = s"graftq106.${table.name.schema}.${table.name.name}"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")

    orders.versionedInsertInto(ctx, table, user, UpdateMessage("v1: all orders"))
    val full = s.sql(s"SELECT count(*) FROM $name").head().getLong(0)

    // ordinal addressing: commit_index 2 is the first write (init = 1) —
    // the coordinate DESCRIBE HISTORY prints, usable directly in AS OF
    require(
      s.sql(s"SELECT count(*) FROM $name VERSION AS OF '2'")
        .head().getLong(0) == full,
      "VERSION AS OF '2' must read the first write via its history index")

    // TRUNCATE: one metadata commit; rows gone; history + time travel intact
    val commitsBefore = log.updates(table.name).size
    s.sql(s"TRUNCATE TABLE $name")
    require(log.updates(table.name).size == commitsBefore + 1,
      "TRUNCATE must be exactly one commit")
    require(s.sql(s"SELECT count(*) FROM $name").head().getLong(0) == 0L,
      "TRUNCATE must empty the current state")
    require(
      s.sql(s"SELECT count(*) FROM $name VERSION AS OF '2'")
        .head().getLong(0) == full,
      "the pre-truncate state must stay addressable by its index")

    // refill after the truncate: the table versions on normally
    orders.where(col("o_orderkey") % 2 === 1)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: odd keys"))
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |       round(sum(o_totalprice), 2) AS sum_price
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q110: nested RENAME/DROP through ARRAY ELEMENTS (`ALTER TABLE t
    * RENAME COLUMN tags.element.x TO score`, then `DROP COLUMN
    * tags.element.note`) — the column-mapping discipline inside
    * `array<struct>`: the physical field name stays frozen in every file
    * generation, reads REBUILD each element with a `transform()` lambda
    * (physical→logical, dropped fields omitted — pure column-expression
    * algebra, codegen'd, metadata-only at any scale), writes translate
    * back, a MERGE crosses the rename (its partition rewrite reads
    * logical and re-lands physical), time travel reads the ADDRESSED
    * commit's element shape, and the dropped name cannot be reborn at
    * depth. All pinned in-query; the oracle replays both generations' +
    * the merge's element arithmetic relationally. */
  def q110ArrayElementRename(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq110", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq110", log)
    val loc = Files.createTempDirectory("graft_q110").toUri
    val name = "graftq110.g.ord_arename"
    s.sql(
      s"""CREATE TABLE $name (
         |  o_orderkey BIGINT, tags ARRAY<STRUCT<x: INT, note: STRING>>,
         |  o_orderstatus STRING)
         |USING parquet PARTITIONED BY (o_orderstatus) LOCATION '$loc'""".stripMargin)
    Tables.load(s, dir, "orders").createOrReplaceTempView("q110_orders")
    // v1 (even keys): elements speak the ORIGINAL field name x
    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey,
         |       array(named_struct('x', CAST(o_orderkey % 100 AS INT),
         |                          'note', o_orderstatus)),
         |       o_orderstatus
         |FROM q110_orders WHERE o_orderkey % 2 = 0""".stripMargin)
    val tn = TableName("g", "ord_arename")
    val v1 = log.currentCommit(tn)
    val v1Files = s.table(name).inputFiles.toSet

    def elemFields(df: DataFrame): Seq[String] =
      df.schema("tags").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq

    // RENAME through the array element — metadata-only, audited
    s.sql(s"ALTER TABLE $name RENAME COLUMN tags.element.x TO score")
    require(elemFields(s.table(name)) == Seq("score", "note"),
      "the declared element shape must carry the new logical name")
    require(v1Files.subsetOf(s.table(name).inputFiles.toSet),
      "the array-element rename must be metadata-only — no v1 file rewritten")
    require(log.updates(tn).head.message.content
      .contains("RENAME COLUMN tags.element.x TO score"),
      "the rename must land as an auditable commit")

    // v2 (odd keys): post-rename writes speak the LOGICAL name
    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey,
         |       array(named_struct('score', CAST(o_orderkey % 77 AS INT),
         |                          'note', 'new')),
         |       o_orderstatus
         |FROM q110_orders WHERE o_orderkey % 2 = 1""".stripMargin)
    // the physical field name is frozen in BOTH generations' files
    val defn = graft.core.TableDefinition(tn, loc,
      graft.core.PartitionSchema(List(graft.core.PartitionColumn("o_orderstatus"))),
      graft.core.FileFormat.Parquet)
    require(elemFields(graft.spark.VersionedReader(s, log).read(defn)).contains("x"),
      "files must store the frozen physical element name x in every generation")

    // a MERGE crosses the rename: its rewrite reads the LOGICAL element
    // shape and re-lands carried + updated rows under the physical name
    s.sql(
      s"""MERGE INTO $name t
         |USING (SELECT o_orderkey AS k FROM q110_orders WHERE o_orderkey % 10 = 4) s
         |ON t.o_orderkey = s.k
         |WHEN MATCHED THEN UPDATE SET
         |  tags = array(named_struct('score', 555, 'note', 'm'))""".stripMargin)

    // TIME TRAVEL reads the addressed commit's element shape (the Scala
    // surface — SQL relation output is pinned to the current schema, the
    // long-standing rename-travel discipline)
    require(elemFields(graft.spark.ColumnMapping.read(s, log, defn, Some(v1))) ==
      Seq("x", "note"),
      "time travel at v1 must read the original element shape")

    // DROP through the element; the dropped name cannot be reborn at depth
    s.sql(s"ALTER TABLE $name DROP COLUMN tags.element.note")
    require(elemFields(s.table(name)) == Seq("score"),
      "the dropped element field must stop projecting")
    val reborn =
      try { s.sql(s"ALTER TABLE $name ADD COLUMN tags.element.note STRING"); false }
      catch { case e: Exception =>
        Option(e.getMessage).exists(_.contains("cannot be re-added")) }
    require(reborn, "the dropped element field must refuse rebirth at depth")

    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n,
         |       CAST(sum(tags[0].score) AS BIGINT) AS sum_score
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q107c: TYPE WIDENING through MAP KEYS AND VALUES (`ALTER COLUMN
    * m.key TYPE BIGINT`, `ALTER COLUMN m.value TYPE BIGINT` — the
    * Spark/Delta `key`/`value` addressing): the q107/q107b metadata-only
    * contract inside maps — old files keep narrow int entries and upcast
    * at scan (key widening is injective, so key identity is preserved),
    * post-widen writes store wide, time travel reads the addressed
    * commit's narrow map type — zero-rewrite pinned in-query; the oracle
    * replays both generations' map arithmetic relationally. */
  def q107cMapWidening(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq107c", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq107c", log)
    val loc = Files.createTempDirectory("graft_q107c").toUri
    val name = "graftq107c.g.ord_mwide"
    s.sql(
      s"""CREATE TABLE $name (
         |  o_orderkey BIGINT, m MAP<INT, INT>, o_orderstatus STRING)
         |USING parquet PARTITIONED BY (o_orderstatus) LOCATION '$loc'""".stripMargin)
    Tables.load(s, dir, "orders").createOrReplaceTempView("q107c_orders")
    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey,
         |       map(CAST(o_orderkey % 100 AS INT), CAST(o_orderkey % 50 AS INT)),
         |       o_orderstatus
         |FROM q107c_orders WHERE o_orderkey % 2 = 0""".stripMargin)
    val tn = TableName("g", "ord_mwide")
    val v1 = log.currentCommit(tn)
    val v1Files = s.table(name).inputFiles.toSet

    s.sql(s"ALTER TABLE $name ALTER COLUMN m.key TYPE BIGINT")
    s.sql(s"ALTER TABLE $name ALTER COLUMN m.value TYPE BIGINT")
    def mapType(df: DataFrame): org.apache.spark.sql.types.MapType =
      df.schema("m").dataType.asInstanceOf[org.apache.spark.sql.types.MapType]
    require(mapType(s.table(name)).keyType.catalogString == "bigint" &&
      mapType(s.table(name)).valueType.catalogString == "bigint",
      "the declared map key and value types must widen")
    require(v1Files.subsetOf(s.table(name).inputFiles.toSet),
      "the map widen must be metadata-only — no v1 file rewritten")

    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey,
         |       map(o_orderkey * 1000000000, o_orderkey * 2000000000),
         |       o_orderstatus
         |FROM q107c_orders WHERE o_orderkey % 2 = 1""".stripMargin)

    require(mapType(
      s.sql(s"SELECT * FROM $name VERSION AS OF '${v1.id}'"))
      .keyType.catalogString == "int",
      "time travel at v1 must read the narrow map key type")

    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n,
         |       CAST(sum(map_keys(m)[0]) AS BIGINT) AS sum_k,
         |       CAST(sum(map_values(m)[0]) AS BIGINT) AS sum_v
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q111: COLUMN REORDER (`ALTER COLUMN c FIRST | AFTER x`) — the
    * Delta/Iceberg logical-reorder contract as a METADATA-ONLY change:
    * the declared schema order moves, no file is rewritten (parquet
    * resolves requested columns by name in every generation), positional
    * INSERTs follow the new declaration, and the order TIME-TRAVELS — a
    * `VERSION AS OF` load declares the addressed commit's column order
    * (SchemaStates anchors the reorder like a nested shape change). The
    * observed orders ride the output as literal columns, so the oracle
    * hash pins them (the driver compare is order-blind by design). */
  def q111ColumnReorder(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq111", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq111", log)
    val loc = Files.createTempDirectory("graft_q111").toUri
    val name = "graftq111.g.ord_reord"
    s.sql(
      s"""CREATE TABLE $name (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_custkey BIGINT,
         |  o_orderstatus STRING)
         |USING parquet PARTITIONED BY (o_orderstatus) LOCATION '$loc'""".stripMargin)
    Tables.load(s, dir, "orders").createOrReplaceTempView("q111_orders")
    // v1 (even keys): written under the ORIGINAL declaration order
    s.sql(
      s"""INSERT INTO $name
         |SELECT o_orderkey, o_totalprice, o_custkey, o_orderstatus
         |FROM q111_orders WHERE o_orderkey % 2 = 0""".stripMargin)
    val tn = TableName("g", "ord_reord")
    val v1 = log.currentCommit(tn)
    val v1Files = s.table(name).inputFiles.toSet

    s.sql(s"ALTER TABLE $name ALTER COLUMN o_custkey FIRST")
    s.sql(s"ALTER TABLE $name ALTER COLUMN o_totalprice AFTER o_custkey")
    val cur = s.table(name).columns.toSeq
    require(cur == Seq("o_custkey", "o_totalprice", "o_orderkey", "o_orderstatus"),
      s"the declared order must move to custkey-first (got $cur)")
    require(v1Files.subsetOf(s.table(name).inputFiles.toSet),
      "the reorder must be metadata-only — no v1 file rewritten")
    require(log.updates(tn).head.message.content
      .contains("ALTER COLUMN o_totalprice AFTER o_custkey"),
      "the reorder must land as an auditable commit")

    // v2 (odd keys): a POSITIONAL insert speaks the NEW declaration
    s.sql(
      s"""INSERT INTO $name
         |SELECT o_custkey, o_totalprice, o_orderkey, o_orderstatus
         |FROM q111_orders WHERE o_orderkey % 2 = 1""".stripMargin)

    // TIME TRAVEL declares the ADDRESSED commit's order — on the SQL
    // surface (reorder states anchor in SchemaStates, unlike rename
    // shape travel, which stays a Scala-surface read)
    val traveled =
      s.sql(s"SELECT * FROM $name VERSION AS OF '${v1.id}'").columns.toSeq
    require(traveled ==
      Seq("o_orderkey", "o_totalprice", "o_custkey", "o_orderstatus"),
      s"time travel at v1 must declare the original order (got $traveled)")

    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n,
         |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
         |       '${cur.mkString(",")}' AS cur_order,
         |       '${traveled.mkString(",")}' AS v1_order
         |FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Q112: COLUMN COMMENTS — durable free-text documentation as table
    * metadata: CREATE-time (`c BIGINT COMMENT '…'`) and ALTER-time
    * (`ALTER COLUMN c COMMENT '…'`) comments ride their auditable
    * commits, decorate DESCRIBE, and replay
    * from the SHOW CREATE script re-pointed onto a second table — all
    * pinned in-query; the declared comments ride the output as a literal
    * so the oracle hash pins them. */
  def q112ColumnComments(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    s.conf.set(
      "spark.sql.catalog.graftq112", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq112", log)
    val loc = Files.createTempDirectory("graft_q112").toUri
    val name = "graftq112.g.cust_cm"
    s.sql(
      s"""CREATE TABLE $name (
         |  c_custkey BIGINT COMMENT 'customer surrogate key',
         |  c_acctbal DOUBLE, c_mktsegment STRING)
         |USING parquet PARTITIONED BY (c_mktsegment) LOCATION '$loc'""".stripMargin)
    Tables.load(s, dir, "customer").createOrReplaceTempView("q112_customer")
    s.sql(
      s"""INSERT INTO $name
         |SELECT c_custkey, c_acctbal, c_mktsegment FROM q112_customer""".stripMargin)
    val tn = TableName("g", "cust_cm")
    val v1Files = s.table(name).inputFiles.toSet

    s.sql(s"ALTER TABLE $name ALTER COLUMN c_acctbal COMMENT 'account balance, USD'")
    require(log.updates(tn).head.message.content
      .contains("ALTER COLUMN c_acctbal COMMENT 'account balance, USD'"),
      "the comment must land as an auditable commit")
    require(v1Files.subsetOf(s.table(name).inputFiles.toSet),
      "a comment is metadata-only — no file rewritten")
    val desc = s.sql(s"DESCRIBE TABLE $name").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    require(desc.get("c_custkey").contains("customer surrogate key") &&
      desc.get("c_acctbal").contains("account balance, USD"),
      s"DESCRIBE must surface the declared comments (got $desc)")

    // the DDL script replays the comments re-pointed onto a second table
    val script = s.sql(s"SHOW CREATE TABLE $name").head().getString(0)
    require(script.contains("COMMENT 'customer surrogate key'") &&
      script.contains("COMMENT 'account balance, USD'"),
      "SHOW CREATE must emit both comments")
    val loc2 = Files.createTempDirectory("graft_q112b").toUri
    s.sql(script.split(";\\s*\n").head
      .replace(name, "graftq112.g.cust_cm2")
      .replaceAll("LOCATION '[^']*'", s"LOCATION '$loc2'"))
    val part = graft.core.PartitionSchema(
      List(graft.core.PartitionColumn("c_mktsegment")))
    val defn2 = graft.core.TableDefinition(
      TableName("g", "cust_cm2"), loc2, part, graft.core.FileFormat.Parquet)
    val replayed = graft.spark.Comments.list(s, log, defn2)
    require(replayed == Map(
      "c_custkey" -> "customer surrogate key",
      "c_acctbal" -> "account balance, USD"),
      s"the replayed table must reproduce the comments (got $replayed)")

    val declared = graft.spark.Comments.list(
      s, log, graft.core.TableDefinition(tn, loc, part, graft.core.FileFormat.Parquet))
      .toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("; ")
    s.sql(
      s"""SELECT c_mktsegment, count(*) AS n,
         |       round(sum(c_acctbal), 2) AS sum_bal,
         |       '$declared' AS declared_comments
         |FROM $name GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  /** Q113: RENAME TRAVEL — a rename recorded AFTER the addressed commit
    * must never NULL-blank the column on the SQL time-travel surface or
    * on either clone kind: the physical column is frozen across renames
    * ([[graft.spark.ColumnMapping]]), so the addressed state's values
    * exist in every file generation and resolve through the rename
    * lineage (`renamedSince`). v1 loads A+N under `l_quantity`, the SQL
    * RENAME lands, v2 writes R under the new `qty`; the returned frame
    * aggregates the PRE-RENAME state through `VERSION AS OF` — current
    * logical names, REAL values (a NULL-blanked column would zero the
    * sums and hash-mismatch the oracle). In-query asserts pin the AS OF
    * shallow clone and a current-state deep clone of the renamed table
    * serving complete (non-NULL) values too. */
  def q113RenameTravel(s: SparkSession, dir: String): DataFrame = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    s.conf.set(
      "spark.sql.catalog.graftq113", classOf[graft.spark.GraftTableCatalog].getName)
    graft.spark.GraftTableCatalog.bind("graftq113", log)
    val table = tempTable(
      "li_rt", PartitionSchema(List(PartitionColumn("l_returnflag"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("create li_rt"))
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    li.where(col("l_returnflag") =!= "R")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: A+N"))
    graft.spark.GraftTableCatalog.register("graftq113", table,
      Some(graft.spark.VersionedReader(s, log).read(table).schema))
    val name = s"graftq113.${table.name.schema}.${table.name.name}"
    val pre = log.currentCommit(table.name)

    s.sql(s"ALTER TABLE $name RENAME COLUMN l_quantity TO qty")
    li.where(col("l_returnflag") === "R")
      .withColumnRenamed("l_quantity", "qty")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: R under qty"))

    // the time-traveled relation serves COMPLETE values under the current
    // name — count(qty) counts non-NULLs, so equality with count(*) is
    // exactly the no-NULL-blank contract
    val Seq(nAll, nQty) = s.sql(
      s"SELECT count(*), count(qty) FROM $name VERSION AS OF '${pre.id}'")
      .head().toSeq.map(_.asInstanceOf[Long])
    require(nAll > 0 && nQty == nAll,
      s"AS OF across the rename must serve values, not NULLs ($nQty/$nAll)")

    // an AS OF SHALLOW clone (carried current mapping over shared frozen
    // files) and a CURRENT deep clone (independent copy materialized
    // under the registered logical names) keep the same contract
    s.sql(s"CREATE TABLE graftq113.g.li_rt_sc SHALLOW CLONE $name VERSION AS OF '${pre.id}'")
    val Seq(scAll, scQty) = s.sql(
      "SELECT count(*), count(qty) FROM graftq113.g.li_rt_sc")
      .head().toSeq.map(_.asInstanceOf[Long])
    require(scAll == nAll && scQty == nAll,
      s"the AS OF shallow clone must serve the cloned state's values ($scQty/$scAll vs $nAll)")
    s.sql(s"CREATE TABLE graftq113.g.li_rt_dc DEEP CLONE $name")
    val Seq(dcAll, dcQty) = s.sql(
      "SELECT count(*), count(qty) FROM graftq113.g.li_rt_dc")
      .head().toSeq.map(_.asInstanceOf[Long])
    require(dcAll > nAll && dcQty == dcAll,
      s"the deep clone of the renamed table must copy values, not NULLs ($dcQty/$dcAll)")

    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_items,
         |       round(sum(qty), 2) AS sum_qty
         |FROM $name VERSION AS OF '${pre.id}'
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }
}
