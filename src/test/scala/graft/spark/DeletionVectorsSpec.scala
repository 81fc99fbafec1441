package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class DeletionVectorsSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("dv-test")

  test("DV delete hides scattered rows without moving version pointers; time travel sees them") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "dv_part"),
      Files.createTempDirectory("graft_dv_part").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (1L to 100L).map(i => Event(i, s"k$i", s"2024-01-0${i % 3 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val preDelete = log.currentCommit(table.name)
    val v1 = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }

    // a scattered predicate touches every partition — copy-on-write would
    // rewrite the whole table; the DV delete writes only a sidecar
    val n = DeletionVectors.delete(
      ctx, log, table, col("id") % 10 === 0, user, UpdateMessage("dv delete %10"))
    n shouldBe 10L

    // 1 new commit, ZERO version-pointer movement, zero data writes
    log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs shouldBe v1
      case other                        => fail(s"unexpected $other")
    }
    log.updates(table.name).head.message.content shouldBe "dv delete %10"

    val visible = DeletionVectors.read(spark, log, table)
    visible.count() shouldBe 90L
    visible.where(col("id") % 10 === 0).count() shouldBe 0L
    // the raw reader still sees every physical row (merge-on-READ)
    VersionedReader(spark, log).read(table).count() shouldBe 100L
    // time travel to the pre-delete commit shows the deleted rows
    DeletionVectors.read(spark, log, table, Some(preDelete)).count() shouldBe 100L

    // second delete COMPOSES cumulatively; re-deleting hidden rows is a no-op
    DeletionVectors.delete(
      ctx, log, table, col("id") % 7 === 0, user, UpdateMessage("dv delete %7")) shouldBe 13L // 14 multiples of 7, but 70 is already hidden
    DeletionVectors.delete(
      ctx, log, table, col("id") % 7 === 0, user, UpdateMessage("noop")) shouldBe 0L
    val after2 = DeletionVectors.read(spark, log, table)
    after2.count() shouldBe 77L // 100 - 10 - 13
    // no-match deletes commit nothing
    log.updates(table.name).map(_.message.content) should not contain "noop"

    // a COMPACTION rewrite absorbs the vectors: the rewritten files carry
    // only surviving rows, and the old pairs become dead no-ops
    Compaction.compact(spark, ctx, table, user, UpdateMessage("optimize"))
    val compacted = DeletionVectors.read(spark, log, table)
    compacted.count() shouldBe 77L
    VersionedReader(spark, log).read(table).count() shouldBe 77L // physically gone
  }

  test("copy-on-write rewrites do NOT resurrect DV-hidden rows (MERGE, UPDATE, INSERT carry)") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "dv_cow"),
      Files.createTempDirectory("graft_dv_cow").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (1L to 60L).map(i => Event(i, s"k$i", s"2024-01-0${i % 3 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    DeletionVectors.delete(
      ctx, log, table, col("id") <= 30, user, UpdateMessage("dv")) shouldBe 30L
    DeletionVectors.read(spark, log, table).count() shouldBe 30L

    // MERGE upsert touching every partition: hidden rows must neither match
    // as targets nor be carried into the rewritten partitions
    val src = Seq((101L, "k101", "2024-01-01"), (102L, "k102", "2024-01-02"),
      (103L, "k103", "2024-01-03"))
      .toDF("id", "kind", "date")
    Merge.mergeInto(ctx, log, table, src, Seq("id"), user, UpdateMessage("merge"), None)
    val afterMerge = DeletionVectors.read(spark, log, table)
    afterMerge.count() shouldBe 33L
    afterMerge.where(col("id") <= 30).count() shouldBe 0L
    // the REWRITTEN partitions are physically clean too: the raw scan of
    // the new state shows no resurrected rows (vectors absorbed)
    VersionedReader(spark, log).read(table).where(col("id") <= 30).count() shouldBe 0L
  }

  test("checkpoint guard refuses to fold a load-bearing DV anchor; vacuum keeps it") {
    val dir = Files.createTempDirectory("graft_dv_ckpt")
    val log = new JsonFileTableVersions(dir)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "dv_ckpt"),
      Files.createTempDirectory("graft_dv_ckpt_data").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (1L to 20L).map(i => Event(i, s"k$i", s"2024-01-0${i % 2 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    DeletionVectors.delete(
      ctx, log, table, col("id") <= 4, user, UpdateMessage("dv")) shouldBe 4L
    // push the DV anchor outside a keepLast=1 window with later commits to
    // FRESH partitions (writing to the DV'd partitions would replace their
    // files and deaden the vectors — not what this test pins)
    (21L to 24L).map(i => Event(i, s"k$i", "2024-01-08"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v2"))
    (25L to 28L).map(i => Event(i, s"k$i", "2024-01-09"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v3"))

    // folding the anchor commit away would silently un-delete 4 rows
    an[IllegalStateException] should be thrownBy
      DeletionVectors.requireCheckpointKeepsVectors(spark, log, table, keepLast = 1)
    // with the anchor in the retained tail the guard passes and the
    // checkpointed log still applies the vectors
    DeletionVectors.requireCheckpointKeepsVectors(spark, log, table, keepLast = 3)
    log.checkpoint(table.name, keepLast = 3) shouldBe true
    DeletionVectors.read(spark, new JsonFileTableVersions(dir), table).count() shouldBe 24L

    // vacuum must KEEP the sidecar while a retained state resolves through
    // it, even though its anchor sits outside keepLast's commit window
    val report = Vacuum.vacuum(
      table, log, spark.sessionState.newHadoopConf(), keepLast = 1, graceMs = 0L)
    report.deleted.filter(_.startsWith("_deletes/")) shouldBe Nil
    DeletionVectors.read(spark, log, table).count() shouldBe 24L

    // an ORPHANED sidecar (commit never landed) reclaims
    val orphan = new java.io.File(
      new java.io.File(table.location), "_deletes/commit-orphan-id")
    orphan.mkdirs() shouldBe true
    val report2 = Vacuum.vacuum(
      table, log, spark.sessionState.newHadoopConf(), keepLast = 1, graceMs = 0L)
    report2.deleted should contain("_deletes/commit-orphan-id")
  }

  test("SQL catalog scans apply deletion vectors transparently (GraftDvScanRule)") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    spark.conf.set(
      "spark.sql.catalog.graftdv", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftdv", log)
    val table = TableDefinition(
      TableName("test", "dv_sql"),
      Files.createTempDirectory("graft_dv_sql").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftdv", table)
    (1L to 30L).map(i => Event(i, s"k$i", s"2024-01-0${i % 3 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    spark.sql("SELECT count(*) FROM graftdv.test.dv_sql").head().getLong(0) shouldBe 30L
    val preDelete = log.currentCommit(table.name)

    DeletionVectors.delete(
      ctx, log, table, col("id") <= 10, user, UpdateMessage("dv")) shouldBe 10L
    // plain SELECT serves the merge-on-read state — no caller opt-in
    spark.sql("SELECT count(*) FROM graftdv.test.dv_sql").head().getLong(0) shouldBe 20L
    spark.sql("SELECT min(id) FROM graftdv.test.dv_sql").head().getLong(0) shouldBe 11L
    // filters and aggregates compose over the rewritten plan
    spark.sql(
      "SELECT count(*) FROM graftdv.test.dv_sql WHERE id <= 15").head().getLong(0) shouldBe 5L
    // time travel to the pre-delete commit shows every row; the CURRENT
    // state keeps hiding them through its own pinned sidecar resolution
    spark.sql(
      s"SELECT count(*) FROM graftdv.test.dv_sql VERSION AS OF '${preDelete.id}'")
      .head().getLong(0) shouldBe 30L
    // physical rows intact: merge-on-READ, not a rewrite
    VersionedReader(spark, log).read(table).count() shouldBe 30L

    // INSERT … SELECT reads through the rewrite too — a write command's
    // QUERY side must not resurrect hidden rows into the new table
    val sink = TableDefinition(
      TableName("test", "dv_sql_sink"),
      Files.createTempDirectory("graft_dv_sql_sink").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(sink, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftdv", sink,
      Some(spark.sql("SELECT * FROM graftdv.test.dv_sql").schema))
    spark.sql(
      "INSERT INTO graftdv.test.dv_sql_sink SELECT * FROM graftdv.test.dv_sql")
    spark.sql("SELECT count(*) FROM graftdv.test.dv_sql_sink").head().getLong(0) shouldBe 20L

    // a MERGE *source* reads through the rewrite as well (the DV rule runs
    // before GraftDmlRule captures the source into the merge command):
    // target holds 25..40; merging the DV table (visible: 11..30) updates
    // 25..30 and inserts 11..24 — resurrection of 1..10 would show 40 rows
    val tgt = TableDefinition(
      TableName("test", "dv_sql_tgt"),
      Files.createTempDirectory("graft_dv_sql_tgt").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(tgt, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftdv", tgt)
    (25L to 40L).map(i => Event(i, s"old$i", s"2024-01-0${i % 3 + 1}"))
      .toDS().versionedInsertInto(ctx, tgt, user, UpdateMessage("v1"))
    spark.sql(
      """MERGE INTO graftdv.test.dv_sql_tgt t USING graftdv.test.dv_sql s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("SELECT count(*) FROM graftdv.test.dv_sql_tgt").head().getLong(0) shouldBe 30L
    spark.sql("SELECT min(id) FROM graftdv.test.dv_sql_tgt").head().getLong(0) shouldBe 11L

    // compaction absorbs the vectors; the raw delegate path returns and
    // serves the identical state
    Compaction.compact(spark, ctx, table, user, UpdateMessage("optimize"))
    spark.sql("SELECT count(*) FROM graftdv.test.dv_sql").head().getLong(0) shouldBe 20L
    spark.sql("SELECT min(id) FROM graftdv.test.dv_sql").head().getLong(0) shouldBe 11L
  }

  test("per-file sidecars: a delete rewrites only its touched files' groups, not the cumulative union") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "dv_grouped"),
      Files.createTempDirectory("graft_dv_grouped").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (1L to 100L).map(i => Event(i, s"k$i", s"2024-01-0${i % 2 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    def sidecarAt(commitIdx: Int): org.apache.spark.sql.DataFrame = {
      val id = log.updates(table.name)(commitIdx).id.id
      spark.read.parquet(
        new java.io.File(new java.io.File(table.location), s"_deletes/commit-$id").toString)
    }

    // first delete: 20 rows scattered over BOTH partitions' files
    DeletionVectors.delete(
      ctx, log, table, col("id") % 5 === 0, user, UpdateMessage("d1")) shouldBe 20L
    val files1 = sidecarAt(0).select("file").distinct().as[String].collect().toSet
    files1.size should be >= 2

    // second delete confined to ONE partition: its sidecar must mention
    // only that partition's files and carry o(first sidecar) rows — the
    // write-amplification pin (the old cumulative format would fold all
    // 20 prior pairs into every later sidecar)
    DeletionVectors.delete(
      ctx, log, table,
      col("date") === "2024-01-01" && col("id") % 7 === 1,
      user, UpdateMessage("d2")) shouldBe 6L // even ids ≡1 (mod 7): 8,22,36,50,64,78,92 minus already-hidden 50
    val sc2 = sidecarAt(0)
    val files2 = sc2.select("file").distinct().as[String].collect().toSet
    files2.foreach(f => assert(f.contains("/date=2024-01-01/"), f))
    // carries the touched files' full groups (6 new + the prior %5 pairs
    // in those same files), but NONE of the other partition's 10 pairs
    val untouched = files1 -- files2
    untouched should not be empty
    sc2.as[(String, Long)].collect().map(_._1).toSet.intersect(untouched) shouldBe empty

    // cumulative READ semantics survive the grouped layout
    DeletionVectors.read(spark, log, table).count() shouldBe 74L
  }

  test("partition-scoped OPTIMIZE sheds the rewritten partitions' vectors (absorbStale)") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "dv_partial"),
      Files.createTempDirectory("graft_dv_partial").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (1L to 100L).map(i => Event(i, s"k$i", s"2024-01-0${i % 2 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    DeletionVectors.delete(
      ctx, log, table, col("id") % 5 === 0, user, UpdateMessage("dv")) shouldBe 20L
    DeletionVectors.resolvePairs(spark, log, table, None).get.count() shouldBe 20L

    // compact ONLY date=2024-01-01 (even ids; 10 of the 20 vectors)
    val day1 = Partition(ColumnValue(PartitionColumn("date"), "2024-01-01"))
    Compaction.compact(
      spark, ctx, table, user, UpdateMessage("optimize day1"), partitions = Seq(day1))

    // the rewritten partition is physically clean — no resurrection
    VersionedReader(spark, log).readPartitions(table, Seq(day1))
      .where(col("id") % 5 === 0).count() shouldBe 0L
    // the table still reads correctly overall
    DeletionVectors.read(spark, log, table).count() shouldBe 80L
    // and the vectors SHRANK: only the untouched partition's 10 remain
    val pairs = DeletionVectors.resolvePairs(spark, log, table, None).get
    pairs.count() shouldBe 10L
    pairs.select("file").as[String].collect()
      .foreach(f => assert(f.contains("/date=2024-01-02/"), f))
    // time travel BEFORE the rewrite still applies all 20
    val preOptimize = log.updates(table.name)(1).id
    DeletionVectors.read(spark, log, table, Some(preOptimize)).count() shouldBe 80L
  }

  test("a merge-on-read DELETE landing right after a full rewrite commits keeps its rows hidden") {
    // the catalog sync of the rewrite's commit runs the DELETE: it lands
    // after the commit that absorbed the older vectors and must not be
    // taken for absorbed itself
    def raceAfter(name: String, evolved: Option[PartitionSchema])(
        rewrite: (VersionContext, TableDefinition) => Unit): Unit = {
      val log = new InMemoryTableVersions
      val catalog = new HookedMetastore
      val ctx = VersionContext(VersionedMetastore(log, catalog))
      val table = TableDefinition(
        TableName("test", name), Files.createTempDirectory(s"graft_$name").toUri,
        PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
      ctx.init(table, user, UpdateMessage("init"))
      (1L to 40L).map(i => Event(i, s"k${i % 2}", s"2024-01-0${i % 2 + 1}"))
        .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
      DeletionVectors.delete(
        ctx, log, table, col("id") <= 4, user, UpdateMessage("dv before")) shouldBe 4L
      val after = evolved.fold(table)(s => table.copy(partitionSchema = s))
      var raced: Option[TableVersions.CommitId] = None
      catalog.afterUpdate = _ => {
        catalog.afterUpdate = _ => ()
        DeletionVectors.delete(
          ctx, log, after, col("id") % 5 === 0, user, UpdateMessage("racing dv")) shouldBe 8L
        raced = Some(log.currentCommit(table.name))
      }
      try rewrite(ctx, table) finally catalog.afterUpdate = _ => ()
      raced should not be empty
      log.currentCommit(table.name) shouldBe raced.get
      for (at <- List(None, raced)) {
        val visible = DeletionVectors.read(spark, log, after, at)
        visible.count() shouldBe 28L // 40 - 4 - 8
        visible.where(col("id") % 5 === 0 || col("id") <= 4).count() shouldBe 0L
      }
    }
    raceAfter("dv_race_optimize", None) { (ctx, t) =>
      Compaction.compact(spark, ctx, t, user, UpdateMessage("optimize")); ()
    }
    val byKind = PartitionSchema(List(PartitionColumn("kind")))
    raceAfter("dv_race_evolve", Some(byKind)) { (ctx, t) =>
      PartitionEvolution.evolve(spark, ctx, t, byKind, user); ()
    }
  }

  test("squashSidecars folds many delete sidecars into one contributing dir") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "dv_squash"),
      Files.createTempDirectory("graft_dv_squash").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (1L to 60L).map(i => Event(i, s"k$i", s"2024-01-0${i % 3 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    DeletionVectors.delete(ctx, log, table, col("id") <= 5, user, UpdateMessage("d1"))
    DeletionVectors.delete(ctx, log, table, col("id").between(6, 9), user, UpdateMessage("d2"))
    val afterD2 = log.currentCommit(table.name) // the d2 commit
    DeletionVectors.delete(ctx, log, table, col("id") === 10, user, UpdateMessage("d3"))

    DeletionVectors.liveSidecarDirs(spark, log, table, None) should have size 3

    DeletionVectors.squashSidecars(spark, ctx, table, user, UpdateMessage("squash")) shouldBe true
    // one dir serves every subsequent read; content unchanged
    DeletionVectors.liveSidecarDirs(spark, log, table, None) should have size 1
    DeletionVectors.read(spark, log, table).count() shouldBe 50L
    DeletionVectors.resolvePairs(spark, log, table, None).get.count() shouldBe 10L
    // idempotent-ish: nothing left to fold
    DeletionVectors.squashSidecars(spark, ctx, table, user, UpdateMessage("squash")) shouldBe false
    // time travel to a mid-history state still resolves the OLD dirs
    DeletionVectors.read(spark, log, table, Some(afterD2)).count() shouldBe 51L
  }

  test("DV sidecars round-trip the durable log and snapshot tables") {
    val dir = Files.createTempDirectory("graft_dv_log")
    val log = new JsonFileTableVersions(dir)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "dv_snap"),
      Files.createTempDirectory("graft_dv_snap").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (1L to 50L).map(i => Event(i, s"k$i", "d")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    DeletionVectors.delete(
      ctx, log, table, col("id") <= 5, user, UpdateMessage("dv")) shouldBe 5L

    // a fresh process (re-opened log) still applies the sidecar
    val reopened = new JsonFileTableVersions(dir)
    DeletionVectors.read(spark, reopened, table).count() shouldBe 45L

    // a snapshot REWRITE replaces every file — the old vectors reference
    // replaced paths and become dead no-ops, never corrupting the new state
    (51L to 60L).map(i => Event(i, s"k$i", "d")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: full replace"))
    DeletionVectors.read(spark, log, table).count() shouldBe 10L
  }
}
