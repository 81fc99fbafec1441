package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/**
 * Commit-anchored metadata vs LOG CHECKPOINTING: a checkpoint folds old
 * commits — and the anchors/marks riding them — out of the retained
 * history. Resolution must not silently revert when its anchor ages out:
 *
 *  - commit-carried metadata (column mapping, partition era, nested
 *    schema state) rides the checkpoint base, which carries the newest
 *    value of each family the folded commits carried;
 *  - the identity write path falls back to the max id physically present
 *    in the files when no mark survives — ids never restart.
 */
class RetentionSurvivalSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("retention-test")

  private def durable(name: String): (VersionContext, JsonFileTableVersions, TableDefinition) = {
    val log = new JsonFileTableVersions(Files.createTempDirectory(s"graft_ret_log_$name"))
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("db", name),
      Files.createTempDirectory(s"graft_ret_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))),
      FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    (ctx, log, t)
  }

  test("a column mapping survives checkpointing its anchor away") {
    val (ctx, log, t) = durable("map_ckpt")
    Seq(Event(1, "a", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    ColumnMapping.rename(spark, ctx, t, "kind", "category", user)
    // pile on commits, then fold everything but the newest two away —
    // including the rename's anchor commit
    (2L to 5L).foreach(i => Seq(Event(i, "b", s"2024-01-0$i")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage(s"v$i")))
    log.checkpoint(t.name, keepLast = 1) shouldBe true

    val cols = ColumnMapping.applyLogical(
      VersionedReader(spark, log).read(t), spark, log, t, None).columns
    cols should contain("category")
    cols should not contain "kind"
    // and the mapping keeps evolving normally post-checkpoint
    ColumnMapping.rename(spark, ctx, t, "category", "label", user)
    ColumnMapping.applyLogical(
      VersionedReader(spark, log).read(t), spark, log, t, None)
      .columns should contain("label")
  }

  test("a nested struct shape survives checkpointing its anchor away") {
    import org.apache.spark.sql.functions.{lit, struct}
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val (ctx, log, t) = durable("nested_ckpt")
    def batch(id: Long, date: String, wide: Boolean) = {
      val rows = Seq((id, "en", date)).toDF("id", "lang", "date")
      val meta = if (wide) struct(col("lang"), lit("c").as("cust")) else struct(col("lang"))
      rows.select(col("id"), meta.as("meta"), col("date"))
    }
    batch(1, "2024-01-01", wide = false)
      .versionedInsertInto(ctx, t, user, UpdateMessage("c1"))
    spark.conf.set("spark.sql.catalog.graftret", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftret", log)
    GraftTableCatalog.register("graftret", t, Some(new StructType()
      .add("id", LongType).add("meta", new StructType().add("lang", StringType))
      .add("date", StringType)))
    spark.sql("ALTER TABLE graftret.db.nested_ckpt ADD COLUMN meta.cust STRING") // c2
    batch(3, "2024-01-03", wide = true).versionedInsertInto(ctx, t, user, UpdateMessage("c3"))
    val c3 = log.currentCommit(t.name)
    batch(4, "2024-01-04", wide = true).versionedInsertInto(ctx, t, user, UpdateMessage("c4"))
    val c4 = log.currentCommit(t.name)
    // fold everything but c4 into a base at c3: the ADD's commit goes
    log.checkpoint(t.name, keepLast = 1) shouldBe true
    log.updates(t.name).map(_.id) shouldBe List(c4, c3)

    Seq(c3 -> 3L, c4 -> 4L).foreach { case (c, id) =>
      withClue(c.id) {
        val travelled = spark.sql(s"SELECT * FROM graftret.db.nested_ckpt VERSION AS OF '${c.id}'")
        travelled.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq shouldBe
          Seq("lang", "cust")
        travelled.where(col("id") === id).select("meta.cust").as[String].collect().toSeq shouldBe
          Seq("c")
      }
    }
  }

  test("an evolved scheme survives checkpointing the boundary away; stale writers still refuse") {
    val (ctx, log, t) = durable("evo_ckpt")
    Seq(Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val evolved = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    (10L to 13L).foreach(i => Seq(Event(i, s"k$i", s"2024-02-0${i - 9}")).toDS()
      .versionedInsertInto(ctx, evolved, user, UpdateMessage(s"v$i")))
    log.checkpoint(t.name, keepLast = 1) shouldBe true

    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    // the stale-definition guard still refuses after the fold
    (the[IllegalStateException] thrownBy {
      Seq(Event(99, "z", "2024-03-03")).toDS()
        .versionedInsertInto(ctx, t, user, UpdateMessage("stale"))
    }).getMessage should include("stale scheme")
    // and new-era writes + reads keep working
    Seq(Event(99, "z", "2024-03-03")).toDS()
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("ok"))
    VersionedReader(spark, log).read(evolved).count() shouldBe 7L
  }

  test("identity ids never restart after a checkpoint folds the high-water marks away") {
    val (ctx, log, t) = durable("id_ckpt")
    IdentityColumns.declare(spark, ctx, t, "row_id", user)
    IdentityColumns.insertWithIdentity(
      (1L to 10L).map(i => (i, "a")).toDF("v", "date"), ctx, t, "row_id",
      user, UpdateMessage("b1"))
    val hwm1 = IdentityColumns.currentHighWaterMark(log, t.name, "row_id")
    hwm1 should be > 0L
    // non-identity commits push the marked commit past the horizon; the
    // checkpoint base keeps only the newest commit's message
    (1 to 3).foreach(i =>
      Seq((100L + i, Option.empty[Long], s"2024-02-0$i")).toDF("v", "row_id", "date")
        .versionedInsertInto(ctx, t, user, UpdateMessage(s"plain $i")))
    log.checkpoint(t.name, keepLast = 1) shouldBe true
    IdentityColumns.currentHighWaterMark(log, t.name, "row_id") shouldBe 0L // marks folded

    // the write path falls back to the data's max id: no restart, no reuse
    IdentityColumns.insertWithIdentity(
      (11L to 15L).map(i => (i, "b")).toDF("v", "date"), ctx, t, "row_id",
      user, UpdateMessage("b2"))
    val ids = VersionedReader(spark, log).read(t)
      .where(col("row_id").isNotNull).select("row_id").as[Long].collect()
    ids.distinct.length shouldBe ids.length
    ids.filter(_ > hwm1).length shouldBe 5 // the new batch sits above the old max
  }

  test("a shallow clone carries the identity mark even after a checkpoint folded it away") {
    val (ctx, log, t) = durable("id_clone_ckpt")
    IdentityColumns.declare(spark, ctx, t, "row_id", user)
    IdentityColumns.insertWithIdentity(
      (1L to 10L).map(i => (i, "a")).toDF("v", "date"), ctx, t, "row_id",
      user, UpdateMessage("b1"))
    val hwm1 = IdentityColumns.currentHighWaterMark(log, t.name, "row_id")
    hwm1 should be > 0L
    (1 to 3).foreach(i =>
      Seq((100L + i, Option.empty[Long], s"2024-02-0$i")).toDF("v", "row_id", "date")
        .versionedInsertInto(ctx, t, user, UpdateMessage(s"plain $i")))
    log.checkpoint(t.name, keepLast = 1) shouldBe true
    IdentityColumns.currentHighWaterMark(log, t.name, "row_id") shouldBe 0L // marks folded

    // the clone-state commit must carry the SCAN-RESOLVED mark, not the
    // folded lineage's 0 — otherwise the clone's first insert re-mints
    // ids already present in the carried rows
    val dst = TableName("db", "id_clone_dst")
    val dstDefn = ShallowClone.clone(spark, ctx, t, dst, user)
    IdentityColumns.currentHighWaterMark(log, dst, "row_id") shouldBe hwm1

    IdentityColumns.insertWithIdentity(
      (11L to 15L).map(i => (i, "b")).toDF("v", "date"), ctx, dstDefn, "row_id",
      user, UpdateMessage("clone b2"))
    val ids = VersionedReader(spark, log).read(dstDefn)
      .where(col("row_id").isNotNull).select("row_id").as[Long].collect()
    ids.distinct.length shouldBe ids.length // no collision with carried ids
  }

  test("cloning an identity table with an empty state still commits the mark") {
    val (ctx, log, t) = durable("id_clone_empty")
    IdentityColumns.declare(spark, ctx, t, "row_id", user)
    val dst = TableName("db", "id_clone_empty_dst")
    val dstDefn = ShallowClone.clone(spark, ctx, t, dst, user)
    // the declaration carried, and the mark rode a commit (hwm=0 is real
    // state, not an accident of a missing commit)
    IdentityColumns.declared(spark, log, dstDefn) shouldBe Some("row_id")
    log.updates(dst).map(_.message.content)
      .exists(_.contains("identity:row_id hwm=0")) shouldBe true
    IdentityColumns.insertWithIdentity(
      Seq((1L, "a")).toDF("v", "date"), ctx, dstDefn, "row_id",
      user, UpdateMessage("first"))
    VersionedReader(spark, log).read(dstDefn)
      .select("row_id").as[Long].collect().toList shouldBe List(1L)
  }
}
