package graft.spark

import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

// top-level: Spark encoders cannot be derived for classes nested in a suite
case class User(id: Long, name: String)
case class Event(id: Long, kind: String, date: String)

/** Shared local session for Spark-backed suites (all tests fork into one
  * JVM — `Test / fork := true` in build.sbt). */
object TestSpark {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()

  /** Spark jobs `body` runs, counted by a listener over a drained bus. */
  def jobs(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    val sc = session.sparkContext
    org.apache.spark.ListenerBusShim.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusShim.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }
}

/** End-to-end scenario coverage mirroring the reference's loader specs
  * (`examples/src/test/scala/com/gu/tableversions/examples/SnapshotTableLoaderSpec.scala:33-88`,
  * `DatePartitionedTableLoaderSpec.scala:41-149`): insert ×N → query →
  * inspect the `<partition>/<label>` directory layout → rollback → re-query
  * → write-after-rollback jumps forward.
  */
class VersionedLifecycleSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("lifecycle-test")

  private def freshContext(): (VersionContext, TableVersions) = {
    val log = new InMemoryTableVersions
    (VersionContext(VersionedMetastore(log, new InMemoryMetastore)), log)
  }

  private def tmpTable(name: String, schema: PartitionSchema): TableDefinition =
    TableDefinition(
      TableName("test", name),
      Files.createTempDirectory(s"graft_spec_$name").toUri,
      schema,
      FileFormat.Parquet)

  test("snapshot table: two inserts, reader sees latest, rollback restores v1, roll-forward works") {
    val (ctx, log) = freshContext()
    val table = tmpTable("users_snap", PartitionSchema.snapshot)
    ctx.init(table, user, UpdateMessage("init"))

    Seq(User(1, "ada"), User(2, "bob")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    Seq(User(1, "ada"), User(2, "bob"), User(3, "cyd")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))

    val reader = VersionedReader(spark, log)
    reader.read(table).as[User].collect().sortBy(_.id) shouldBe
      Array(User(1, "ada"), User(2, "bob"), User(3, "cyd"))

    // on-disk layout: two version dirs under the table location, no staging
    val dirs = Files.list(Paths.get(table.location)).iterator()
    val labels = Iterator.continually(dirs).takeWhile(_.hasNext).map(_.next().getFileName.toString).toList
    labels.count(l => Version.parse(l).isRight) shouldBe 2

    // history: init + v1 + v2, most recent first
    val history = log.updates(table.name)
    history.map(_.message.content) shouldBe List("v2", "v1", "init")

    // rollback to v1 and re-read: old data still on disk, reader follows log
    val metastoreCtx = ctx.metastore
    metastoreCtx.checkout(table.name, history(1).id)
    reader.read(table).as[User].collect().sortBy(_.id) shouldBe
      Array(User(1, "ada"), User(2, "bob"))

    // write-after-rollback appends and becomes current (reference quirk)
    Seq(User(9, "zed")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v3"))
    reader.read(table).as[User].collect() shouldBe Array(User(9, "zed"))
  }

  test("partitioned table: per-partition overwrite leaves other partitions untouched") {
    val (ctx, log) = freshContext()
    val table = tmpTable("events_part", PartitionSchema(List(PartitionColumn("date"))))
    ctx.init(table, user, UpdateMessage("init"))

    Seq(
      Event(1, "click", "2024-01-01"),
      Event(2, "view", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    // second insert touches only 2024-01-02
    Seq(Event(3, "purchase", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))

    val reader = VersionedReader(spark, log)
    val rows = reader.read(table).select("id", "kind", "date").as[(Long, String, String)]
      .collect().sortBy(_._1)
    rows shouldBe Array((1L, "click", "2024-01-01"), (3L, "purchase", "2024-01-02"))

    // layout: each partition dir holds its own version label dirs
    val p1 = Paths.get(table.location).resolve("date=2024-01-01")
    val p2 = Paths.get(table.location).resolve("date=2024-01-02")
    Files.list(p1).count() shouldBe 1
    Files.list(p2).count() shouldBe 2 // v1 dir still on disk, just unreferenced
    Files.exists(Paths.get(table.location).resolve("_staging")) shouldBe false

    // time travel back to v1 sees the original 2024-01-02 row
    val v1Commit = log.updates(table.name)(1).id
    val asOf = reader.readAsOf(table, v1Commit).select("id", "kind", "date")
      .as[(Long, String, String)].collect().sortBy(_._1)
    asOf shouldBe Array((1L, "click", "2024-01-01"), (2L, "view", "2024-01-02"))
  }

  test("one version is shared by all partitions of a single write") {
    val (ctx, log) = freshContext()
    val table = tmpTable("shared_version", PartitionSchema(List(PartitionColumn("date"))))
    ctx.init(table, user, UpdateMessage("init"))

    Seq(
      Event(1, "a", "2024-01-01"),
      Event(2, "b", "2024-01-02"),
      Event(3, "c", "2024-01-03")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) =>
        pvs should have size 3
        pvs.values.toSet should have size 1 // single Version for the whole write
      case other => fail(s"expected partitioned version, got $other")
    }
  }

  test("partition values with special characters round-trip (Hive escaping)") {
    val (ctx, log) = freshContext()
    val table = tmpTable("escaped_part", PartitionSchema(List(PartitionColumn("date"))))
    ctx.init(table, user, UpdateMessage("init"))

    val odd = "2024 01:01" // Hive escaping: colon → %3A, space stays literal
    Seq(Event(1, "click", odd), Event(2, "view", "plain")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    val rows = VersionedReader(spark, log).read(table)
      .select("id", "date").as[(Long, String)].collect().sortBy(_._1)
    rows shouldBe Array((1L, odd), (2L, "plain"))

    val escapedDir = Paths.get(table.location).resolve("date=2024 01%3A01")
    Files.exists(escapedDir) shouldBe true
  }

  test("multi-column partitions via ORC: overwrite one leaf, others untouched (reference MultiPartitionTableLoaderSpec shape)") {
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "multi_part"),
      Files.createTempDirectory("graft_spec_multi").toUri,
      PartitionSchema(List(PartitionColumn("date"), PartitionColumn("kind"))),
      FileFormat.Orc)
    ctx.init(table, user, UpdateMessage("init"))

    Seq(
      Event(1, "click", "2024-01-01"),
      Event(2, "view", "2024-01-01"),
      Event(3, "click", "2024-01-02")).toDS()
      .select(col("id"), col("date"), col("kind"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    // overwrite only the (2024-01-01, click) leaf
    Seq(Event(9, "click", "2024-01-01")).toDS()
      .select(col("id"), col("date"), col("kind"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))

    val rows = VersionedReader(spark, log).read(table)
      .select("id", "date", "kind").as[(Long, String, String)].collect().sortBy(_._1)
    rows shouldBe Array(
      (2L, "2024-01-01", "view"),
      (3L, "2024-01-02", "click"),
      (9L, "2024-01-01", "click"))

    // nested layout: date=…/kind=…/<label>
    val leaf = Paths.get(table.location).resolve("date=2024-01-01").resolve("kind=click")
    Files.list(leaf).count() shouldBe 2 // old + new version dirs
    log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs should have size 3
      case other                        => fail(s"unexpected $other")
    }
  }

  test("readChanges surfaces only partitions whose version moved between commits") {
    val (ctx, log) = freshContext()
    val table = tmpTable("diff_part", PartitionSchema(List(PartitionColumn("date"))))
    ctx.init(table, user, UpdateMessage("init"))

    Seq(
      Event(1, "click", "2024-01-01"),
      Event(2, "view", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1 = log.updates(table.name).head.id
    // v2 touches only 2024-01-02; 2024-01-01 keeps its v1 version
    Seq(Event(3, "purchase", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))
    val v2 = log.updates(table.name).head.id

    val reader = VersionedReader(spark, log)
    val changed = reader.readChanges(table, v1, v2)
      .select("id", "kind", "date").as[(Long, String, String)].collect()
    changed shouldBe Array((3L, "purchase", "2024-01-02"))

    // no movement between a commit and itself — and the quiet-interval
    // result still carries the table schema (consumers keep resolving)
    val quiet = reader.readChanges(table, v2, v2)
    quiet.count() shouldBe 0
    quiet.columns should contain allOf ("id", "kind", "date")
  }

  test("readChanges on a snapshot table: whole new snapshot, or nothing") {
    val (ctx, log) = freshContext()
    val table = tmpTable("diff_snap", PartitionSchema.snapshot)
    ctx.init(table, user, UpdateMessage("init"))
    Seq(User(1, "ada")).toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1 = log.updates(table.name).head.id
    Seq(User(1, "ada"), User(2, "bob")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))
    val v2 = log.updates(table.name).head.id

    val reader = VersionedReader(spark, log)
    reader.readChanges(table, v1, v2).as[User].collect().sortBy(_.id) shouldBe
      Array(User(1, "ada"), User(2, "bob"))
    val quiet = reader.readChanges(table, v1, v1)
    quiet.count() shouldBe 0
    quiet.columns should contain allOf ("id", "name")
  }

  test("an empty snapshot insert commits a readable empty version") {
    val (ctx, log) = freshContext()
    val table = tmpTable("empty_snap", PartitionSchema.snapshot)
    ctx.init(table, user, UpdateMessage("init"))
    Seq(User(1, "ada")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    // truncating write: zero rows — the version must still read back as an
    // empty table, never fail schema inference on a file-less dir
    Seq.empty[User].toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: truncate"))
    val reader = VersionedReader(spark, log)
    reader.read(table).count() shouldBe 0
    reader.read(table).columns should contain allOf ("id", "name")
  }

  test("durable log: versioned writes survive a reopened JsonFileTableVersions") {
    val logDir = Files.createTempDirectory("graft_spec_durable_log")
    val log = new JsonFileTableVersions(logDir)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = tmpTable("durable_snap", PartitionSchema.snapshot)
    ctx.init(table, user, UpdateMessage("init"))
    Seq(User(1, "ada")).toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    val reopened = new JsonFileTableVersions(logDir)
    VersionedReader(spark, reopened).read(table).as[User].collect() shouldBe
      Array(User(1, "ada"))
  }
}
