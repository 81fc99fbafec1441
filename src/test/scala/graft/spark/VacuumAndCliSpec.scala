package graft.spark

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class VacuumSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._
  private val user = UserId("vacuum-test")

  test("checkpoint + vacuum pair into one retention horizon: tail time-travels, history reclaims") {
    val logDir = Files.createTempDirectory("graft_vac_ckpt_log")
    val log = new JsonFileTableVersions(logDir)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "vac_ckpt"),
      Files.createTempDirectory("graft_vac_ckpt").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (1 to 3).foreach { i =>
      Seq(User(i.toLong, s"v$i")).toDS()
        .versionedInsertInto(ctx, table, user, UpdateMessage(s"v$i"))
    }
    // metadata horizon: fold init+v1 away, keep v2+v3 replayable (base = v2)
    log.checkpoint(table.name, keepLast = 1) shouldBe true
    val base = log.updates(table.name).last.id // the folded base carries v2's state
    // data horizon to match: retain the states of the base + tail commits
    val report = Vacuum.vacuum(
      table, log, spark.sessionState.newHadoopConf(), keepLast = 2, graceMs = 0)
    report.deleted should have size 1 // v1's dir — the folded-away history
    // everything the checkpointed log can still name remains readable
    VersionedReader(spark, log).read(table).as[User].collect() shouldBe Array(User(3, "v3"))
    VersionedReader(spark, log).readAsOf(table, base).as[User].collect() shouldBe
      Array(User(2, "v2"))
  }

  test("vacuum deletes only version dirs no retained commit references") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "vac_snap"),
      Files.createTempDirectory("graft_vac").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))

    (1 to 4).foreach { i =>
      Seq(User(i.toLong, s"v$i")).toDS()
        .versionedInsertInto(ctx, table, user, UpdateMessage(s"v$i"))
    }
    Files.list(Paths.get(table.location)).count() shouldBe 4

    val report = Vacuum.vacuum(table, log, spark.sessionState.newHadoopConf(), keepLast = 2, graceMs = 0)
    report.examined shouldBe 4
    report.deleted should have size 2 // v1, v2 dropped; v3, v4 retained

    // the current version still reads fine
    VersionedReader(spark, log).read(table).as[User].collect() shouldBe Array(User(4, "v4"))
    // and checkout within the retention window still works
    val v3 = log.updates(table.name).find(_.message.content == "v3").get.id
    VersionedReader(spark, log).readAsOf(table, v3).as[User].collect() shouldBe Array(User(3, "v3"))
  }

  test("vacuum on a partitioned table keeps every partition the retained states use") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "vac_part"),
      Files.createTempDirectory("graft_vac_part").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))

    Seq(Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    Seq(Event(3, "c", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))
    Seq(Event(4, "d", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v3"))

    // keepLast=1: retained state = {01-01@v1, 01-02@v3}. The superseded
    // 01-02 dirs from v1 and v2 go; 01-01@v1 survives because the current
    // state still references it even though its commit is old
    val report = Vacuum.vacuum(table, log, spark.sessionState.newHadoopConf(), keepLast = 1, graceMs = 0)
    report.examined shouldBe 4
    report.deleted should have size 2

    VersionedReader(spark, log).read(table)
      .select("id").as[Long].collect().sorted shouldBe Array(1L, 4L)
  }

  test("distributed listing computes EXACTLY the driver walk's reclaim set") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "vac_dist"),
      Files.createTempDirectory("graft_vac_dist").toUri,
      PartitionSchema(List(PartitionColumn("date"), PartitionColumn("hour"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    // two-level layout, several partitions, superseded versions
    Seq.tabulate(12)(i =>
      (i.toLong, s"2024-01-0${i % 3 + 1}", f"${i % 4}%02d"))
      .toDF("id", "date", "hour")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    Seq.tabulate(6)(i => (100L + i, s"2024-01-0${i % 3 + 1}", "00"))
      .toDF("id", "date", "hour")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))
    Seq((200L, "2024-01-01", "00")).toDF("id", "date", "hour")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v3"))
    val liveRows = VersionedReader(spark, log).read(table).count()

    def dry(force: Boolean): Vacuum.Report = {
      val prev = spark.conf.getOption("spark.graft.vacuum.distributedMinDirs")
      try {
        spark.conf.set(
          "spark.graft.vacuum.distributedMinDirs", if (force) "0" else "1000000")
        Vacuum.vacuum(table, log, spark.sessionState.newHadoopConf(),
          keepLast = 1, graceMs = 0, dryRun = true, spark = Some(spark))
      } finally prev match {
        case Some(v) => spark.conf.set("spark.graft.vacuum.distributedMinDirs", v)
        case None    => spark.conf.unset("spark.graft.vacuum.distributedMinDirs")
      }
    }
    val driver = dry(force = false)
    val dist = dry(force = true)
    // the equality pin: same examined count, same would-delete set
    dist.examined shouldBe driver.examined
    dist.deleted shouldBe driver.deleted
    driver.deleted should not be empty

    // and the distributed run actually reclaims the same set
    val prev = spark.conf.getOption("spark.graft.vacuum.distributedMinDirs")
    try {
      spark.conf.set("spark.graft.vacuum.distributedMinDirs", "0")
      val real = Vacuum.vacuum(table, log, spark.sessionState.newHadoopConf(),
        keepLast = 1, graceMs = 0, spark = Some(spark))
      real.deleted shouldBe driver.deleted
      real.failed shouldBe empty
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.vacuum.distributedMinDirs", v)
      case None    => spark.conf.unset("spark.graft.vacuum.distributedMinDirs")
    }
    VersionedReader(spark, log).read(table).count() shouldBe liveRows
  }

  test("default retention grace protects young dirs from a racing writer's vacuum") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "vac_grace"),
      Files.createTempDirectory("graft_vac_grace").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (1 to 3).foreach { i =>
      Seq(User(i.toLong, s"v$i")).toDS()
        .versionedInsertInto(ctx, table, user, UpdateMessage(s"v$i"))
    }
    // just-written dirs are younger than the default grace: nothing deleted,
    // exactly the protection an in-flight (not-yet-committed) writer needs
    val graced = Vacuum.vacuum(table, log, spark.sessionState.newHadoopConf(), keepLast = 1)
    graced.examined shouldBe 3
    graced.deleted shouldBe empty
    // with the grace waived, the superseded versions go
    val waived = Vacuum.vacuum(table, log, spark.sessionState.newHadoopConf(),
      keepLast = 1, graceMs = 0)
    waived.deleted should have size 2
  }

  test("vacuum reclaims stale metadata temp files in every keyed family dir and keeps fresh ones") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "vac_tmp"),
      Files.createTempDirectory("graft_vac_tmp").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    Seq(User(1L, "v1")).toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val keyedDirs = List("_constraints", "_generated", "_identity", "_defaults",
      "_comments", "_tblproperties", "_schema_states")
    MetadataFiles.families.filter(_.keyed).map("_" + _.name) shouldBe keyedDirs
    val root = Paths.get(table.location)
    val hourAgo = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L)
    // a crashed writer's staging temp (stale) and an in-flight one (fresh)
    val (stale, fresh) = keyedDirs.map { d =>
      Files.createDirectories(root.resolve(d))
      val old = root.resolve(s"$d/.test.vac_tmp.json.tmp-old")
      val young = root.resolve(s"$d/.test.vac_tmp.json.tmp-young")
      Files.write(old, "{".getBytes("UTF-8"))
      Files.setLastModifiedTime(old, hourAgo)
      Files.write(young, "{".getBytes("UTF-8"))
      (s"$d/${old.getFileName}", young)
    }.unzip
    val graceMs = 600000L
    val dry = Vacuum.vacuum(table, log, spark.sessionState.newHadoopConf(),
      graceMs = graceMs, dryRun = true)
    dry.deleted shouldBe stale.sorted
    stale.foreach(rel => Files.exists(root.resolve(rel)) shouldBe true)
    val report = Vacuum.vacuum(table, log, spark.sessionState.newHadoopConf(), graceMs = graceMs)
    report.deleted shouldBe stale.sorted
    stale.foreach(rel => Files.exists(root.resolve(rel)) shouldBe false)
    fresh.foreach(f => Files.exists(f) shouldBe true)
  }
}

class VacuumEscapingSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._
  private val user = UserId("vacuum-esc")

  test("vacuum never deletes live dirs of partitions whose values need Hive escaping") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "vac_esc"),
      Files.createTempDirectory("graft_vac_esc").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))

    // ':' gets Hive-escaped to %3A on disk; the raw form never exists there
    Seq(Event(1, "a", "2024 01:01")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    val report = Vacuum.vacuum(table, log, spark.sessionState.newHadoopConf(), keepLast = 1, graceMs = 0)
    report.examined shouldBe 1
    report.deleted shouldBe empty // the escaped live dir must be recognized

    VersionedReader(spark, log).read(table)
      .select("id").as[Long].collect() shouldBe Array(1L)
  }
}

class CliSpec extends AnyFunSuite with Matchers {

  import graft.core.TableVersions._
  import java.time.Instant

  test("history / current / checkout round-trip through the CLI") {
    val dir = Files.createTempDirectory("graft_cli").toString
    val log = JsonFileTableVersions(dir)
    val tbl = TableName("db", "clitable")
    log.init(tbl, isSnapshot = true, UserId("cli"), UpdateMessage("init"), Instant.now())
    val v1 = Version.generateVersion()
    val u1 = TableUpdate(UserId("cli"), UpdateMessage("v1"), Instant.now(),
      List(TableOperation.AddTableVersion(v1)))
    log.commit(tbl, u1)

    val out = scala.collection.mutable.Buffer[String]()
    graft.cli.TableVersionsCli.run(Array(dir, "history", "db.clitable"), out += _)
    out.mkString should include("v1")

    out.clear()
    graft.cli.TableVersionsCli.run(Array(dir, "current", "db.clitable"), out += _)
    out.mkString should include(v1.label)

    out.clear()
    val initId = log.updates(tbl).last.id.id
    graft.cli.TableVersionsCli.run(Array(dir, "checkout", "db.clitable", initId), out += _)
    JsonFileTableVersions(dir).currentVersion(tbl) shouldBe
      SnapshotTableVersion(Version.Unversioned)
  }

  test("diff lists added / replaced / removed partitions between commits") {
    val dir = Files.createTempDirectory("graft_cli_diff").toString
    val log = JsonFileTableVersions(dir)
    val tbl = TableName("db", "clidiff")
    log.init(tbl, isSnapshot = false, UserId("cli"), UpdateMessage("init"), Instant.now())
    val pa = Partition(ColumnValue(PartitionColumn("date"), "2024-01-01"))
    val pb = Partition(ColumnValue(PartitionColumn("date"), "2024-01-02"))
    val (v1, v2) = (Version.generateVersion(), Version.generateVersion())
    log.commit(tbl, TableUpdate(UserId("cli"), UpdateMessage("c1"), Instant.now(),
      List(TableOperation.AddPartitionVersion(pa, v1), TableOperation.AddPartitionVersion(pb, v1))))
    val c1 = log.updates(tbl).head.id
    log.commit(tbl, TableUpdate(UserId("cli"), UpdateMessage("c2"), Instant.now(),
      List(TableOperation.AddPartitionVersion(pb, v2), TableOperation.RemovePartition(pa))))
    val c2 = log.updates(tbl).head.id

    val out = scala.collection.mutable.Buffer[String]()
    graft.cli.TableVersionsCli.run(Array(dir, "diff", "db.clidiff", c1.id, c2.id), out += _)
    out.mkString("\n") should include(s"date=2024-01-02 -> ${v2.label} (replaced)")
    out.mkString("\n") should include("date=2024-01-01 (removed)")

    out.clear()
    graft.cli.TableVersionsCli.run(Array(dir, "diff", "db.clidiff", c2.id, c2.id), out += _)
    out.mkString shouldBe "unchanged"
  }
}
