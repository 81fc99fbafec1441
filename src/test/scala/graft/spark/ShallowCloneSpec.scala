package graft.spark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class ShallowCloneSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("clone-test")

  private def freshContext(): (VersionContext, TableVersions) = {
    val log = new InMemoryTableVersions
    (VersionContext(VersionedMetastore(log, new InMemoryMetastore)), log)
  }

  private def partitionedTable(name: String): TableDefinition =
    TableDefinition(
      TableName("test", name),
      Files.createTempDirectory(s"graft_spec_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))),
      FileFormat.Parquet)

  test("a shallow clone serves the cloned state; writes to either side never leak to the other") {
    val (ctx, log) = freshContext()
    val src = partitionedTable("clone_src")
    ctx.init(src, user, UpdateMessage("init"))
    Seq(Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-02"))
      .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v1"))
    val v1 = log.currentCommit(src.name)
    Seq(Event(3, "c", "2024-01-03"))
      .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v2"))

    // clone at v1: sees exactly v1's two rows, no data copied
    val clone = ShallowClone.clone(
      spark, ctx, src, TableName("test", "clone_dst"), user, Some(v1))
    clone.location shouldBe src.location
    val reader = VersionedReader(spark, log)
    reader.read(clone).as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L)
    reader.read(src).as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L, 3L)

    // write to the clone: the source must not move
    val srcHead = log.currentCommit(src.name)
    Seq(Event(9, "z", "2024-01-01"), Event(10, "y", "2024-04-01"))
      .toDS().versionedInsertInto(ctx, clone, user, UpdateMessage("clone-w1"))
    log.currentCommit(src.name) shouldBe srcHead
    reader.read(clone).as[Event].collect().map(_.id).sorted shouldBe Array(2L, 9L, 10L)
    reader.read(src).as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L, 3L)

    // write to the source: the clone must not move
    Seq(Event(20, "w", "2024-01-02"))
      .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v3"))
    reader.read(clone).as[Event].collect().map(_.id).sorted shouldBe Array(2L, 9L, 10L)
    reader.read(src).as[Event].collect().map(_.id).sorted shouldBe Array(1L, 3L, 20L)

    // the clone has its own time travel: its first data commit = v1 state
    val cloneStateCommit = log.updates(clone.name)
      .find(_.message.content.startsWith("clone state")).get.id
    reader.readAsOf(clone, cloneStateCommit)
      .as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L)
  }

  test("vacuum under a live clone link is reference-counted: only both-sides-dead dirs reclaim") {
    val (ctx, log) = freshContext()
    val src = partitionedTable("clone_vac")
    ctx.init(src, user, UpdateMessage("init"))
    def write(t: TableDefinition, id: Long, msg: String): Unit =
      Seq(Event(id, "a", "2024-01-01"))
        .toDS().versionedInsertInto(ctx, t, user, UpdateMessage(msg))
    write(src, 1, "v1") // this version becomes dead to BOTH sides
    write(src, 2, "v2") // the forked state
    val clone = ShallowClone.clone(spark, ctx, src, TableName("test", "clone_vac_dst"), user)
    log.refs(src.name).keys should contain("clone:test.clone_vac_dst")
    log.refs(clone.name).keys should contain("cloned-from:test.clone_vac")
    // both sides write on after the fork, overwriting the shared partition
    write(src, 3, "v3 src")
    write(clone, 4, "v4 clone")

    val conf = spark.sessionState.newHadoopConf()
    val report = Vacuum.vacuum(src, log, conf, keepLast = 1, graceMs = 0)
    // exactly the both-sides-dead v1 dir reclaimed; everything either
    // side still references — src head, clone head, the tag-pinned fork
    // state — survives
    report.deleted should have size 1
    VersionedReader(spark, log).read(src).select("id").as[Long].collect() shouldBe Array(3L)
    VersionedReader(spark, log).read(clone).select("id").as[Long].collect() shouldBe Array(4L)
    val forkCommit = log.refs(src.name)("clone:test.clone_vac_dst").id
    VersionedReader(spark, log).readAsOf(src, forkCommit)
      .select("id").as[Long].collect() shouldBe Array(2L)

    // the clone-driven vacuum agrees: nothing more is dead on both sides
    Vacuum.vacuum(clone, log, conf, keepLast = 1, graceMs = 0).deleted shouldBe empty

    // a stale link (partner dropped without unlink) refuses loudly —
    // an unverifiable claim on shared dirs cannot be reference-counted
    log.setRef(src.name, "clone:test.never_tracked", log.currentCommit(src.name), isTag = true)
    an[IllegalStateException] should be thrownBy
      Vacuum.vacuum(src, log, conf, keepLast = 1, graceMs = 0)
    log.deleteRef(src.name, "clone:test.never_tracked")

    // unlink severs the family: vacuum falls back to single-table counting
    ShallowClone.unlink(log, src.name, clone.name)
    noException should be thrownBy Vacuum.vacuum(src, log, conf, graceMs = 0)
  }

  test("clone carries live DVs, column mapping, and constraints; the fork stays isolated both ways") {
    import org.apache.spark.sql.functions.col
    val (ctx, log) = freshContext()
    val src = partitionedTable("clone_carry")
    ctx.init(src, user, UpdateMessage("init"))
    Seq(Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-01"), Event(3, "c", "2024-01-02"))
      .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v1"))
    // live DV + active rename + a constraint — everything the clone used
    // to refuse on
    DeletionVectors.delete(ctx, log, src, col("id") === 1, user, UpdateMessage("dv1"))
    ColumnMapping.rename(spark, ctx, src, "kind", "category", user)
    Constraints.add(spark, ctx, src, Constraints.notNull("id"), user)

    val clone = ShallowClone.clone(
      spark, ctx, src, TableName("test", "clone_carry_dst"), user)
    def logicalIds(t: TableDefinition): Array[Long] =
      ColumnMapping.applyLogical(
        DeletionVectors.read(spark, log, t), spark, log, t, None)
        .select("id").as[Long].collect().sorted
    def logicalCols(t: TableDefinition): Array[String] =
      ColumnMapping.applyLogical(
        DeletionVectors.read(spark, log, t), spark, log, t, None).columns

    // DV carried: the deleted row stays hidden in the clone; mapping
    // carried: the renamed logical column projects; constraints inherited
    logicalIds(clone) shouldBe Array(2L, 3L)
    logicalCols(clone) should contain("category")
    Constraints.list(spark, log, clone).map(_.name) shouldBe List("id_not_null")

    // source-side delete after the fork never leaks into the clone
    DeletionVectors.delete(ctx, log, src, col("id") === 2, user, UpdateMessage("dv2 src"))
    logicalIds(src) shouldBe Array(3L)
    logicalIds(clone) shouldBe Array(2L, 3L)

    // clone-side delete never leaks into the source
    DeletionVectors.delete(ctx, log, clone, col("id") === 3, user, UpdateMessage("dv3 clone"))
    logicalIds(clone) shouldBe Array(2L)
    logicalIds(src) shouldBe Array(3L)

    // mapping evolves independently: a clone-side rename is invisible to
    // the source
    ColumnMapping.rename(spark, ctx, clone, "category", "label", user)
    logicalCols(clone) should contain("label")
    logicalCols(src) should contain("category")

    // constraint sets diverge independently: a clone-side drop leaves the
    // source enforcing
    Constraints.drop(spark, ctx, clone, "id_not_null", user)
    Constraints.list(spark, log, clone) shouldBe Nil
    Constraints.list(spark, log, src).map(_.name) shouldBe List("id_not_null")
  }

  test("SQL: CREATE TABLE ... SHALLOW CLONE ... VERSION AS OF forks and reads through the catalog") {
    val (ctx, log) = freshContext()
    GraftTableCatalog.bind("graftclone", log)
    spark.conf.set(
      "spark.sql.catalog.graftclone", classOf[GraftTableCatalog].getName)
    try {
      val src = partitionedTable("clone_sql_src")
      ctx.init(src, user, UpdateMessage("init"))
      Seq(Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-02"))
        .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v1"))
      val v1 = log.currentCommit(src.name)
      Seq(Event(3, "c", "2024-01-03"))
        .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v2"))
      GraftTableCatalog.register("graftclone", src)

      spark.sql(
        s"""CREATE TABLE graftclone.test.clone_sql_dst SHALLOW CLONE
           |graftclone.test.clone_sql_src VERSION AS OF '${v1.id}'""".stripMargin)
        .collect().map(_.getString(0)) shouldBe Array("graftclone.test.clone_sql_dst")

      spark.sql("SELECT id FROM graftclone.test.clone_sql_dst ORDER BY id")
        .as[Long].collect() shouldBe Array(1L, 2L)
      spark.sql("SELECT id FROM graftclone.test.clone_sql_src ORDER BY id")
        .as[Long].collect() shouldBe Array(1L, 2L, 3L)

      // cloning onto an existing table refuses
      an[Exception] should be thrownBy spark.sql(
        "CREATE TABLE graftclone.test.clone_sql_dst SHALLOW CLONE graftclone.test.clone_sql_src")
    } finally {
      spark.conf.unset("spark.sql.catalog.graftclone")
    }
  }

  test("clone carries the identity declaration and high-water mark; forks stamp independently") {
    import org.apache.spark.sql.functions.col
    val (ctx, log) = freshContext()
    val src = partitionedTable("clone_ident")
    ctx.init(src, user, UpdateMessage("init"))
    IdentityColumns.declare(spark, ctx, src, "row_id", user)
    IdentityColumns.insertWithIdentity(
      (1L to 10L).map(i => (i, s"k$i", "2024-01-01")).toDF("id", "kind", "date"),
      ctx, src, "row_id", user, UpdateMessage("b1"))
    val srcHwm = IdentityColumns.currentHighWaterMark(log, src.name, "row_id")

    val clone = ShallowClone.clone(
      spark, ctx, src, TableName("test", "clone_ident_dst"), user)
    // the declaration carried into the clone's own keyed file, and the
    // mark resolves from the clone-state commit — not a fresh 0
    IdentityColumns.declared(spark, log, clone) shouldBe Some("row_id")
    IdentityColumns.currentHighWaterMark(log, clone.name, "row_id") shouldBe srcHwm

    // a clone write stamps ABOVE the carried rows' ids — no collision
    IdentityColumns.insertWithIdentity(
      (11L to 15L).map(i => (i, s"c$i", "2024-02-02")).toDF("id", "kind", "date"),
      ctx, clone, "row_id", user, UpdateMessage("clone b1"))
    val cloneIds = VersionedReader(spark, log).read(clone)
      .select("row_id").as[Long].collect()
    cloneIds.length shouldBe 15
    cloneIds.distinct.length shouldBe 15
    cloneIds.max should be > srcHwm

    // the source's sequence is untouched by the clone's advance
    IdentityColumns.currentHighWaterMark(log, src.name, "row_id") shouldBe srcHwm
    VersionedReader(spark, log).read(src)
      .select("row_id").as[Long].collect().length shouldBe 10
  }
}
