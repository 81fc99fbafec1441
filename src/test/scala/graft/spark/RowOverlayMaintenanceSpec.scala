package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/** Maintenance lifecycle of the merge-on-read row overlay: squash, vacuum,
  * checkpoint guard, shallow-clone carry, zone-map interplay. */
class RowOverlayMaintenanceSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("ro-maint")

  private def fresh(name: String): (VersionContext, TableVersions, TableDefinition) = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", name),
      Files.createTempDirectory(s"graft_rom_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (ctx, log, table)
  }

  private def overlayDirCount(spark0: org.apache.spark.sql.SparkSession, t: TableDefinition): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      t.location, spark0.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(
      Partition.normalizedDir(t.location).toString + "_appends")
    if (!fs.exists(root)) 0 else fs.listStatus(root).count(_.isDirectory)
  }

  test("squash folds live overlay dirs into one; deleted rows stay gone; time travel intact") {
    val (ctx, log, table) = fresh("squash")
    (1L to 20L).map(i => Event(i, "b", s"2024-01-0${i % 2 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    (1 to 4).foreach { k =>
      RowOverlay.append(
        Seq(Event(100L + k, "o", "2024-01-01")).toDF(), ctx, table, user,
        UpdateMessage(s"append $k"))
    }
    val preSquash = log.currentCommit(table.name)
    DeletionVectors.delete(
      ctx, log, table, col("id") === 102L, user, UpdateMessage("del overlay row")) shouldBe 1L

    RowOverlay.squash(spark, ctx, table, user, UpdateMessage("squash")) shouldBe true
    val after = DeletionVectors.read(spark, log, table)
    after.count() shouldBe 23L // 20 base + 4 appends - 1 delete
    after.where(col("id") === 102L).count() shouldBe 0L
    after.where(col("id") === 104L).count() shouldBe 1L
    // reads resolve ONE overlay dir now (the squash); older dirs are for
    // time travel only
    RowOverlay.contributions(spark, log, table, None).size shouldBe 1
    // time travel to pre-squash still resolves the old dirs
    DeletionVectors.read(spark, log, table, Some(preSquash)).count() shouldBe 24L
    // idempotent no-op on a single contributing dir
    RowOverlay.squash(spark, ctx, table, user, UpdateMessage("squash")) shouldBe false

    // checkpoint guard: pre-squash anchors still serve retained states —
    // folding them refuses; with retention covering the squash it passes
    DeletionVectors.requireCheckpointKeepsVectors(spark, log, table, keepLast = 50)
    val thrown = intercept[IllegalStateException] {
      DeletionVectors.requireCheckpointKeepsVectors(spark, log, table, keepLast = 1)
    }
    thrown.getMessage should include("sidecar")
  }

  test("squash OCC: a commit racing into the fold window makes the squash refuse with nothing lost") {
    val (ctx, log, table) = fresh("squash_occ")
    (1L to 10L).map(i => Event(i, "b", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    (1 to 3).foreach { k =>
      RowOverlay.append(
        Seq(Event(100L + k, "o", "2024-01-01")).toDF(), ctx, table, user,
        UpdateMessage(s"append $k"))
    }
    // a merge-on-read append lands INSIDE the squash's window (after the
    // fold is computed and staged, before its publish CAS): the squash
    // must refuse — publishing would anchor the squashed dir past the
    // append and silently drop its rows from every subsequent read
    RowOverlay.interleaveSquashForTest = Some(() => {
      RowOverlay.interleaveSquashForTest = None
      RowOverlay.append(
        Seq(Event(200L, "late", "2024-01-01")).toDF(), ctx, table, user,
        UpdateMessage("racing append"))
      ()
    })
    try {
      intercept[TableVersions.ConcurrentWriteException] {
        RowOverlay.squash(spark, ctx, table, user, UpdateMessage("squash"))
      }
    } finally RowOverlay.interleaveSquashForTest = None
    // nothing lost: the racing append's row AND every pre-squash row read back
    val ids = DeletionVectors.read(spark, log, table)
      .select("id").as[Long].collect().toSet
    ids should contain allOf (200L, 101L, 102L, 103L)
    ids.size shouldBe 14
    // the refused squash left no referenced debris: a clean squash now
    // folds everything, racing row included
    RowOverlay.squash(spark, ctx, table, user, UpdateMessage("squash")) shouldBe true
    RowOverlay.contributions(spark, log, table, None).size shouldBe 1
    DeletionVectors.read(spark, log, table)
      .select("id").as[Long].collect().toSet shouldBe ids
  }

  test("autoSquash bounds overlay dirs across many appends; below threshold is a no-op") {
    val (ctx, log, table) = fresh("auto_squash")
    (1L to 10L).map(i => Event(i, "b", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    // 12 appends with maintenance after each (the sink's wiring): the
    // contributing-dir count never exceeds maxDirs + 1
    (1 to 12).foreach { k =>
      RowOverlay.append(
        Seq(Event(100L + k, "o", "2024-01-01")).toDF(), ctx, table, user,
        UpdateMessage(s"append $k"))
      RowOverlay.autoSquash(spark, ctx, table, user, maxDirs = 3)
      RowOverlay.contributions(spark, log, table, None).size should be <= 4
    }
    // the fold kept every row
    val ids = DeletionVectors.read(spark, log, table)
      .where(col("id") > 100L).select("id").as[Long].collect().toSet
    ids shouldBe (101L to 112L).toSet
    // steady state: reads open O(1) overlay dirs with no manual squash
    RowOverlay.contributions(spark, log, table, None).size should be <= 4
    // below the threshold nothing commits (no junk history)
    val commits = log.updates(table.name).size
    RowOverlay.autoSquash(spark, ctx, table, user, maxDirs = 16) shouldBe false
    log.updates(table.name).size shouldBe commits

    // DV analogue: deletes accrue sidecars, autoSquash folds them
    (1 to 5).foreach { k =>
      DeletionVectors.delete(
        ctx, log, table, col("id") === (100L + k), user, UpdateMessage(s"d$k"))
    }
    DeletionVectors.liveSidecarDirs(spark, log, table, None).size should be >= 5
    DeletionVectors.autoSquash(spark, ctx, table, user, maxDirs = 3) shouldBe true
    DeletionVectors.liveSidecarDirs(spark, log, table, None) should have size 1
    DeletionVectors.read(spark, log, table)
      .where(col("id") > 100L).count() shouldBe 7L
  }

  test("DV squash OCC: a racing delete makes the sidecar squash refuse; its pairs survive") {
    val (ctx, log, table) = fresh("dv_squash_occ")
    (1L to 30L).map(i => Event(i, "b", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    DeletionVectors.delete(ctx, log, table, col("id") <= 3, user, UpdateMessage("d1"))
    DeletionVectors.delete(ctx, log, table, col("id") === 4, user, UpdateMessage("d2"))
    RowOverlay.interleaveSquashForTest = Some(() => {
      RowOverlay.interleaveSquashForTest = None
      DeletionVectors.delete(ctx, log, table, col("id") === 5, user, UpdateMessage("racing"))
      ()
    })
    try {
      intercept[TableVersions.ConcurrentWriteException] {
        DeletionVectors.squashSidecars(spark, ctx, table, user, UpdateMessage("squash"))
      }
    } finally RowOverlay.interleaveSquashForTest = None
    // the racing delete held: 30 - 5 visible
    DeletionVectors.read(spark, log, table).count() shouldBe 25L
    // clean squash folds all three sidecars, racing pairs included
    DeletionVectors.squashSidecars(spark, ctx, table, user, UpdateMessage("squash")) shouldBe true
    DeletionVectors.read(spark, log, table).count() shouldBe 25L
    DeletionVectors.liveSidecarDirs(spark, log, table, None) should have size 1
  }

  test("vacuum reclaims orphaned overlay dirs, keeps live ones") {
    val (ctx, log, table) = fresh("vac")
    (1L to 10L).map(i => Event(i, "b", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    RowOverlay.append(
      Seq(Event(100L, "o", "2024-01-01")).toDF(), ctx, table, user, UpdateMessage("mor"))
    // simulate a lost OCC race: an overlay dir whose commit never landed
    val orphan = Partition.normalizedDir(table.location).toString +
      "_appends/commit-" + java.util.UUID.randomUUID().toString
    Seq(Event(999L, "x", "2024-01-01")).toDF()
      .write.parquet(orphan)
    overlayDirCount(spark, table) shouldBe 2

    val report = Vacuum.vacuum(
      table, log, spark.sessionState.newHadoopConf(), keepLast = 10, graceMs = 0L)
    report.deleted.exists(_.startsWith("_appends/")) shouldBe true
    overlayDirCount(spark, table) shouldBe 1 // live dir kept
    DeletionVectors.read(spark, log, table).count() shouldBe 11L

    // a second vacuum is a no-op for the overlay
    val again = Vacuum.vacuum(
      table, log, spark.sessionState.newHadoopConf(), keepLast = 10, graceMs = 0L)
    again.deleted.count(_.startsWith("_appends/")) shouldBe 0
  }

  test("shallow clone carries resolved overlay rows with fork isolation") {
    val (ctx, log, table) = fresh("clone_src")
    (1L to 10L).map(i => Event(i, "b", s"2024-01-0${i % 2 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    RowOverlay.append(
      (101L to 104L).map(i => Event(i, "o", "2024-01-01")).toDF(),
      ctx, table, user, UpdateMessage("mor"))
    DeletionVectors.delete(
      ctx, log, table, col("id") === 103L, user, UpdateMessage("del")) shouldBe 1L

    val dst = ShallowClone.clone(spark, ctx, table, TableName("test", "clone_dst"), user)
    val cloneRows = DeletionVectors.read(spark, log, dst)
    cloneRows.count() shouldBe 13L // 10 base + 4 overlay - 1 deleted
    cloneRows.where(col("id") === 103L).count() shouldBe 0L
    cloneRows.where(col("id") === 104L).count() shouldBe 1L

    // fork isolation: source-side MOR ops never leak into the clone
    RowOverlay.append(
      Seq(Event(200L, "s", "2024-01-01")).toDF(), ctx, table, user, UpdateMessage("src only"))
    DeletionVectors.read(spark, log, table).count() shouldBe 14L
    DeletionVectors.read(spark, log, dst).count() shouldBe 13L
    // clone-side MOR delete of a carried overlay row never leaks back
    DeletionVectors.delete(
      ctx, log, dst, col("id") === 104L, user, UpdateMessage("clone del")) shouldBe 1L
    DeletionVectors.read(spark, log, dst).count() shouldBe 12L
    DeletionVectors.read(spark, log, table).where(col("id") === 104L).count() shouldBe 1L
  }

  test("RESTORE composes: rollback hides appended rows, roll-forward re-serves them") {
    val (ctx, log, table) = fresh("restore")
    (1L to 10L).map(i => Event(i, "b", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val preAppend = log.currentCommit(table.name)
    RowOverlay.append(
      Seq(Event(100L, "o", "2024-01-01")).toDF(), ctx, table, user, UpdateMessage("mor"))
    val postAppend = log.currentCommit(table.name)
    DeletionVectors.read(spark, log, table).count() shouldBe 11L

    // rollback: the append commit leaves the lineage, its dir stops contributing
    ctx.metastore.checkout(table.name, preAppend)
    DeletionVectors.read(spark, log, table).count() shouldBe 10L
    // roll-forward: the dir contributes again
    ctx.metastore.checkout(table.name, postAppend)
    DeletionVectors.read(spark, log, table).count() shouldBe 11L

    // write-after-rollback: the V3 RESURRECTION QUIRK (the reference's
    // fold replays every logged update once a new commit lands after a
    // rollback) applies to overlay dirs exactly as it does to partition
    // versions and DV sidecars — the rolled-back append re-enters the
    // lineage alongside the new one. Consistency with the engine's fold
    // semantics, pinned here on purpose.
    ctx.metastore.checkout(table.name, preAppend)
    RowOverlay.append(
      Seq(Event(200L, "p", "2024-01-01")).toDF(), ctx, table, user, UpdateMessage("mor2"))
    val rows = DeletionVectors.read(spark, log, table)
      .select("id").collect().map(_.getLong(0)).sorted
    rows shouldBe ((1L to 10L) ++ Seq(100L, 200L)).toArray
  }

  test("column mapping composes: rename and ADD COLUMN around overlay writes") {
    val (ctx, log, table) = fresh("mapping")
    (1L to 6L).map(i => Event(i, "b", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    RowOverlay.append(
      Seq(Event(100L, "pre", "2024-01-01")).toDF(), ctx, table, user, UpdateMessage("mor"))

    // rename a data column AFTER the overlay write: physical names are
    // stable, so overlay rows surface under the new logical name
    ColumnMapping.rename(spark, ctx, table, "kind", "category", user)
    val renamed = ColumnMapping.read(spark, log, table)
    renamed.columns should contain("category")
    renamed.where(col("id") === 100L).select("category").head.getString(0) shouldBe "pre"

    // MOR update through the NEW name; the stale name refuses loudly
    RowOverlay.update(
      ctx, table, col("id") === 100L,
      Seq("category" -> org.apache.spark.sql.functions.lit("renamed")),
      user, UpdateMessage("upd")) shouldBe 1L
    ColumnMapping.read(spark, log, table)
      .where(col("id") === 100L).select("category").head.getString(0) shouldBe "renamed"
    intercept[Exception] {
      RowOverlay.update(
        ctx, table, col("kind") === "x",
        Seq("category" -> org.apache.spark.sql.functions.lit("y")),
        user, UpdateMessage("stale"))
    }

    // additive evolution: an overlay append CARRYING a new column — older
    // files miss it, the union fills NULL (the q37 additive posture)
    RowOverlay.append(
      Seq((200L, "post", 7L, "2024-01-01")).toDF("id", "category", "score", "date"),
      ctx, table, user, UpdateMessage("mor widened"))
    val widened = ColumnMapping.read(spark, log, table)
    widened.where(col("id") === 200L).select("score").head.getLong(0) shouldBe 7L
    widened.where(col("id") === 1L).select("score").head.isNullAt(0) shouldBe true
    widened.count() shouldBe 8L
  }

  test("multi-level and Hive-escaped partition values round-trip through the overlay") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "esc"),
      Files.createTempDirectory("graft_rom_esc").toUri,
      PartitionSchema(List(PartitionColumn("date"), PartitionColumn("kind"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    Seq(
      Event(1L, "plain", "2024-01-01"), Event(2L, "w space", "2024-01-01"),
      Event(3L, "a:b=c", "2024-01-02"))
      .toDF("id", "kind", "date").select("id", "kind", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1 = log.currentVersion(table.name)
    RowOverlay.append(
      Seq(Event(10L, "w space", "2024-01-01"), Event(11L, "a:b=c", "2024-01-02")).toDF(),
      ctx, table, user, UpdateMessage("mor"))
    log.currentVersion(table.name) shouldBe v1 // both leaves existed
    val rows = DeletionVectors.read(spark, log, table)
    rows.count() shouldBe 5L
    rows.where(col("kind") === "w space").count() shouldBe 2L
    rows.where(col("kind") === "a:b=c").count() shouldBe 2L
    // partition-scoped read matches the escaped leaf
    val p = Partition(List(
      ColumnValue(PartitionColumn("date"), "2024-01-01"),
      ColumnValue(PartitionColumn("kind"), "w space")))
    VersionedReader(spark, log).readPartitions(table, Seq(p)).count() shouldBe 2L
    // a rewrite of one escaped partition absorbs exactly its overlay rows
    Compaction.compact(spark, ctx, table, user, UpdateMessage("opt"), partitions = Seq(p))
    DeletionVectors.read(spark, log, table).count() shouldBe 5L
    VersionedReader(spark, log).read(table).count() shouldBe 5L
  }

  test("CoW INSERT and COPY INTO carry from current-scheme dirs only (mixed-fold no-dup)") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    spark.conf.set("spark.sql.catalog.graftromx", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftromx", log)
    val table = TableDefinition(
      TableName("pdb", "mixins"),
      Files.createTempDirectory("graft_rom_mix").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftromx", table, Some(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.StringType)))))
    (1L to 6L).map(i => Event(i, s"k$i", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    // metadata-only evolution to (kind): old-era dirs stay live beside
    // new-scheme writes
    spark.sql("ALTER TABLE graftromx.pdb.mixins SET PARTITIONED BY (kind) METADATA ONLY")
    // a CoW INSERT whose kind VALUE matches an old-era row: the carry must
    // NOT re-land that old-era row (its dir stays referenced — re-landing
    // would serve it twice)
    spark.sql("INSERT INTO graftromx.pdb.mixins (id, kind, date) VALUES (100, 'k1', '2024-01-01')")
    spark.sql("SELECT count(*) FROM graftromx.pdb.mixins").head.getLong(0) shouldBe 7L
    spark.sql("SELECT count(*) FROM graftromx.pdb.mixins WHERE kind='k1'")
      .head.getLong(0) shouldBe 2L
    // a second insert into the SAME new-scheme partition: the carry now
    // legitimately re-lands the new-scheme dir's row — still no old-era dup
    spark.sql("INSERT INTO graftromx.pdb.mixins (id, kind, date) VALUES (101, 'k1', '2024-01-02')")
    spark.sql("SELECT count(*) FROM graftromx.pdb.mixins").head.getLong(0) shouldBe 8L
    spark.sql("SELECT count(*) FROM graftromx.pdb.mixins WHERE kind='k1'")
      .head.getLong(0) shouldBe 3L
    spark.sql("SELECT count(*) FROM graftromx.pdb.mixins WHERE id=1").head.getLong(0) shouldBe 1L
  }

  test("direct appends auto-stamp declared identity ids; COPY INTO honors merge-on-read") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    spark.conf.set("spark.sql.catalog.graftroas", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftroas", log)
    val table = TableDefinition(
      TableName("rodb", "autostamp"),
      Files.createTempDirectory("graft_rom_as").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftroas", table, Some(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.StringType)))))
    Seq(("seed", "2024-01-01")).toDF("kind", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    spark.sql(
      "ALTER TABLE graftroas.rodb.autostamp ADD COLUMN rid BIGINT GENERATED ALWAYS AS IDENTITY")
    // a DIRECT overlay append (no identity plumbing at the call site)
    // still stamps unique ids and advances the mark
    RowOverlay.append(
      Seq(("a", "2024-01-01"), ("b", "2024-01-01")).toDF("kind", "date"),
      ctx, table, user, UpdateMessage("direct append"))
    log.updates(table.name).head.message.content should include("identity:rid hwm=")
    val ids = ColumnMapping.read(spark, log, table)
      .where(col("kind").isin("a", "b")).select("rid")
      .collect().map(_.getLong(0))
    ids.distinct.length shouldBe 2

    // COPY INTO under merge-on-read: the ingest lands as overlay, no
    // partition re-carried, load history still deduplicates
    val landing = Files.createTempDirectory("graft_rom_copy")
    Seq(("c1", "2024-01-01"), ("c2", "2024-01-01")).toDF("kind", "date")
      .coalesce(1).write.parquet(landing.resolve("slice1").toString)
    val fold = log.currentVersion(table.name)
    spark.conf.set("spark.graft.dml.mergeOnRead", "true")
    try {
      val r1 = CopyInto.ingest(
        spark, ctx, table, landing.toUri.toString, "parquet", user,
        pattern = Some("*/*.parquet"))
      r1.ingestedFiles should have size 1
      log.currentVersion(table.name) shouldBe fold // pure overlay
      // idempotent re-run: nothing fresh
      CopyInto.ingest(
        spark, ctx, table, landing.toUri.toString, "parquet", user,
        pattern = Some("*/*.parquet")).ingestedFiles shouldBe empty
      ColumnMapping.read(spark, log, table)
        .where(col("kind").isin("c1", "c2")).count() shouldBe 2L
      // ingested rows got identity ids too (append auto-stamp)
      ColumnMapping.read(spark, log, table)
        .where(col("kind").isin("c1", "c2") && col("rid").isNotNull).count() shouldBe 2L
    } finally spark.conf.unset("spark.graft.dml.mergeOnRead")
  }

  test("append-compose: concurrent appends to the same partition BOTH land; a racing rewrite refuses") {
    val (ctx, log, table) = fresh("compose")
    (1L to 6L).map(i => Event(i, "b", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    // a competing APPEND lands between this append's staging and its
    // commit: appends move no pointer, so the rebase + revalidate critical
    // section composes them — BOTH batches survive, two commits land
    RowOverlay.interleaveForTest = Some(() => {
      RowOverlay.interleaveForTest = None // the inner append races nobody
      RowOverlay.append(
        Seq(Event(200L, "inner", "2024-01-01")).toDF(), ctx, table, user,
        UpdateMessage("inner append"))
      ()
    })
    try {
      RowOverlay.append(
        Seq(Event(100L, "outer", "2024-01-01")).toDF(), ctx, table, user,
        UpdateMessage("outer append"))
    } finally RowOverlay.interleaveForTest = None
    val rows = DeletionVectors.read(spark, log, table)
    rows.where(col("id").isin(100L, 200L)).count() shouldBe 2L
    rows.count() shouldBe 8L

    // a competing REWRITE of the touched partition: the revalidate hook
    // refuses loudly — composing would silently absorb the fresh rows
    // under the log-derived liveness rule
    RowOverlay.interleaveForTest = Some(() => {
      RowOverlay.interleaveForTest = None
      Compaction.compact(spark, ctx, table, user, UpdateMessage("racing optimize"))
      ()
    })
    try {
      intercept[graft.core.TableVersions.ConcurrentWriteException] {
        RowOverlay.append(
          Seq(Event(300L, "late", "2024-01-01")).toDF(), ctx, table, user,
          UpdateMessage("losing append"))
      }
    } finally RowOverlay.interleaveForTest = None
    val after = DeletionVectors.read(spark, log, table)
    after.count() shouldBe 8L // the losing append left nothing behind
    after.where(col("id") === 300L).count() shouldBe 0L
    // the loser's sidecar dir was cleaned
    RowOverlay.contributions(spark, log, table, None)
      .flatMap(_.leaves.map(_._2)).foreach(_ should not include "losing")
  }

  test("SQL ALTER TABLE ... SQUASH SIDECARS folds vectors and overlays in one statement") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    spark.conf.set("spark.sql.catalog.graftrosq", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftrosq", log)
    val table = TableDefinition(
      TableName("rodb", "sqsq"),
      Files.createTempDirectory("graft_rom_sq").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftrosq", table)
    (1L to 12L).map(i => Event(i, "b", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    (1 to 3).foreach { k =>
      RowOverlay.append(
        Seq(Event(100L + k, "o", "2024-01-01")).toDF(), ctx, table, user,
        UpdateMessage(s"a$k"))
      DeletionVectors.delete(
        ctx, log, table, col("id") === k.toLong, user, UpdateMessage(s"d$k"))
    }
    val r = spark.sql("ALTER TABLE graftrosq.rodb.sqsq SQUASH SIDECARS").head
    r.getBoolean(0) shouldBe true // vectors folded
    r.getBoolean(1) shouldBe true // overlays folded
    RowOverlay.contributions(spark, log, table, None).size shouldBe 1
    val state = DeletionVectors.read(spark, log, table)
    state.count() shouldBe 12L // 12 - 3 deletes + 3 appends
    state.where(col("id") <= 3L).count() shouldBe 0L
    state.where(col("id") >= 101L).count() shouldBe 3L
    // idempotent: a second squash is a double no-op
    val r2 = spark.sql("ALTER TABLE graftrosq.rodb.sqsq SQUASH SIDECARS").head
    r2.getBoolean(0) shouldBe false
    r2.getBoolean(1) shouldBe false
  }

  test("zone-map skipping composes: overlay rows union unpruned, stats cover dirs only") {
    val (ctx, log, table) = fresh("zm")
    (1L to 50L).map(i => Event(i, "b", s"2024-01-0${i % 2 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    FileStats.writeZoneMaps(spark, log, table, Seq("id"))
    val statsAt = log.currentCommit(table.name)
    // overlay rows land OUTSIDE every base file's [min,max] zone
    RowOverlay.append(
      Seq(Event(1000L, "o", "2024-01-01"), Event(2000L, "o", "2024-01-02")).toDF(),
      ctx, table, user, UpdateMessage("mor"))
    // stats follow their state: the incremental refresh after the append
    // sees ZERO moved partitions and re-anchors the sidecar — overlay
    // files are deliberately not indexed (they union unpruned below)
    FileStats.updateZoneMaps(spark, log, table, statsAt, Seq("id"))

    // a probe hitting only overlay values: every base file prunes, the
    // overlay rows still arrive (superset contract)
    val hit = FileStats.readSkipping(spark, log, table, "id", 1500L, 2500L)
      .where(col("id").between(1500L, 2500L))
    hit.collect().map(_.getLong(0)) shouldBe Array(2000L)
    // a base-range probe returns base + overlay rows consistently
    val mixed = FileStats.readSkipping(spark, log, table, "id", 1L, 5000L)
    mixed.count() shouldBe 52L
    // the sidecar itself indexes only version-dir files (no overlay paths)
    val statsRoot = new org.apache.hadoop.fs.Path(
      Partition.normalizedDir(table.location).toString + "_stats")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      table.location, spark.sessionState.newHadoopConf())
    val statsFiles = fs.listStatus(statsRoot).toList.filter(_.isDirectory)
      .flatMap(d => spark.read.parquet(d.getPath.toString)
        .select("file").collect().map(_.getString(0)))
    statsFiles should not be empty
    statsFiles.exists(_.contains("_appends")) shouldBe false
    // a MOR delete composes with the pruned scan (stats re-anchored after)
    val preDel = log.currentCommit(table.name)
    DeletionVectors.delete(
      ctx, log, table, col("id") === 2000L, user, UpdateMessage("del")) shouldBe 1L
    FileStats.updateZoneMaps(spark, log, table, preDel, Seq("id"))
    FileStats.readSkipping(spark, log, table, "id", 1500L, 2500L)
      .where(col("id").between(1500L, 2500L)).count() shouldBe 0L
  }
}
