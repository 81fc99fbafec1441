package graft.spark

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class CompactionSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("compaction-test")

  private def freshContext(): (VersionContext, TableVersions) = {
    val log = new InMemoryTableVersions
    (VersionContext(VersionedMetastore(log, new InMemoryMetastore)), log)
  }

  private def dataFiles(dir: Path): Long =
    Files.list(dir).filter(p => p.getFileName.toString.startsWith("part-")).count()

  test("partitioned compaction: one file per partition, rows identical, old version time-travels") {
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "compact_part"),
      Files.createTempDirectory("graft_spec_compact").toUri,
      PartitionSchema(List(PartitionColumn("date"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))

    val events = (1L to 40L).map(i => Event(i, s"k$i", if (i % 2 == 0) "2024-01-01" else "2024-01-02"))
    events.toDS().repartition(8) // fragment: 8 writers → up to 8 files per partition
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))
    val fragmented = log.updates(table.name).head.id

    val p1 = Paths.get(table.location).resolve("date=2024-01-01")
    val fragDirs = Files.list(p1).iterator()
    val fragVersionDir = fragDirs.next()
    dataFiles(fragVersionDir) should be > 1L

    Compaction.compact(spark, ctx, table, user, UpdateMessage("v2: compacted"))

    val reader = VersionedReader(spark, log)
    reader.read(table).as[Event].collect().sortBy(_.id) shouldBe events.toArray

    // the referenced (new) version dir holds exactly one packed file
    val compactedVersion = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs.values.head
      case other                        => fail(s"unexpected $other")
    }
    dataFiles(p1.resolve(compactedVersion.label)) shouldBe 1L

    // pre-compaction version still fully readable (time travel)
    reader.readAsOf(table, fragmented).as[Event].collect().sortBy(_.id) shouldBe events.toArray
  }

  test("size-targeted compaction: oversized partitions split to ~target, small ones merge to one") {
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "compact_size"),
      Files.createTempDirectory("graft_spec_csize").toUri,
      PartitionSchema(List(PartitionColumn("date"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))

    // partition A: lots of incompressible-ish rows over 8 fragments;
    // partition B: a handful of rows in one file
    val big = (1L to 4000L).map(i =>
      Event(i, s"key_${i}_${"x" * 64}_${i * 2654435761L}", "2024-01-01"))
    val small = (5000L to 5009L).map(i => Event(i, s"k$i", "2024-01-02"))
    (big ++ small).toDS().repartition(8)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))

    val pA = Paths.get(table.location).resolve("date=2024-01-01")
    val pB = Paths.get(table.location).resolve("date=2024-01-02")
    def dirBytes(dir: Path): Long = {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(Files.size(_)).sum
      finally s.close()
    }
    val v1A = Files.list(pA).iterator().next()
    val aBytes = dirBytes(v1A)
    val target = aBytes / 3 // A should split ~3-4 ways; B is far below it

    // narrow input splits so the 8 fragments stay 8 input partitions (the
    // salt is pmod(spark_partition_id, splits) — at real scale a 500 GB
    // partition has thousands of input splits, here we must not let the
    // scan glue 8 tiny files into one)
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try
      Compaction.compactToSize(
        spark, ctx, table, user, UpdateMessage("v2: size-targeted"), target)
    finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevCost)
    }

    val pvs = log.currentVersion(table.name) match {
      case PartitionedTableVersion(m) => m
      case other                      => fail(s"unexpected $other")
    }
    val aFiles = dataFiles(pA.resolve(
      pvs(Partition(PartitionColumn("date"), "2024-01-01")).label))
    val bFiles = dataFiles(pB.resolve(
      pvs(Partition(PartitionColumn("date"), "2024-01-02")).label))
    aFiles should be >= 2L // the oversized partition split
    aFiles should be <= 5L // …to roughly ceil(bytes/target), not shards
    bFiles shouldBe 1L     // the small partition still merged to one

    // row-invisible, and the fragmented version still time-travels
    VersionedReader(spark, log).read(table).as[Event]
      .collect().sortBy(_.id) shouldBe (big ++ small).toArray
  }

  test("SQL OPTIMIZE TARGET n MB and the declared target property drive the bytes-aware path") {
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "compact_sizesql"),
      Files.createTempDirectory("graft_spec_csizesql").toUri,
      PartitionSchema(List(PartitionColumn("date"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    spark.conf.set("spark.sql.catalog.graftcsz", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftcsz", log)
    GraftTableCatalog.register("graftcsz", table)
    val name = "graftcsz.test.compact_sizesql"
    (1L to 50L).map(i => Event(i, s"k$i", "2024-01-01")).toDS().repartition(4)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    // a generous explicit target merges the fragments to one file
    spark.sql(s"OPTIMIZE $name TARGET 128 MB").collect()
    log.updates(table.name).head.message.content should include("target")
    val pvs = log.currentVersion(table.name) match {
      case PartitionedTableVersion(m) => m
      case other                      => fail(s"unexpected $other")
    }
    dataFiles(Paths.get(table.location).resolve("date=2024-01-01")
      .resolve(pvs(Partition(PartitionColumn("date"), "2024-01-01")).label)) shouldBe 1L

    // TARGET composes with ZORDER BY (the Delta maxFileSize contract):
    // a generous target re-clusters to one file per partition; the split
    // policy itself is pinned in ZOrderSpec's size-capped test
    spark.sql(s"OPTIMIZE $name ZORDER BY (id) TARGET 64 MB").collect()
    log.updates(table.name).head.message.content should
      (include("ZORDER") and include("target 67108864B"))

    // the declared property routes a BARE OPTIMIZE through the sized path
    spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES " +
      s"('${TableProperties.OptimizeTargetFileSize}' = '134217728')")
    spark.sql(s"OPTIMIZE $name").collect()
    log.updates(table.name).head.message.content should include("target 134217728B")
    // a bad value refuses at SET time (the typed-contract gate)
    intercept[Exception](spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES " +
      s"('${TableProperties.OptimizeTargetFileSize}' = 'huge')"))

    // a LEGACY bad value (committed before validation existed) fails its
    // first consultation with an error naming table/key/value — never a
    // bare NumberFormatException
    log.commit(table.name, TableVersions.TableUpdate(
      user, UpdateMessage("legacy"), java.time.Instant.now(), Nil)
      .withTableMetadata(MetadataFiles.tblProperties.entry(
        Map(TableProperties.OptimizeTargetFileSize -> "huge"))))
    val legacy = intercept[Exception](spark.sql(s"OPTIMIZE $name").collect())
    legacy.getMessage should include(TableProperties.OptimizeTargetFileSize)
    legacy.getMessage should include("'huge'")
    ()
  }

  test("snapshot compaction coalesces to maxFiles without changing rows") {
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "compact_snap"),
      Files.createTempDirectory("graft_spec_compact_snap").toUri,
      PartitionSchema.snapshot,
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))

    val users = (1L to 30L).map(i => User(i, s"u$i"))
    users.toDS().repartition(6)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))

    Compaction.compact(spark, ctx, table, user, UpdateMessage("v2: compacted"), maxFiles = 2)

    val reader = VersionedReader(spark, log)
    reader.read(table).as[User].collect().sortBy(_.id) shouldBe users.toArray
    val label = log.currentVersion(table.name) match {
      case SnapshotTableVersion(v) => v.label
      case other                   => fail(s"unexpected $other")
    }
    dataFiles(Paths.get(table.location).resolve(label)) should be <= 2L
  }

  test("autoCompact rewrites only pressured partitions; below-threshold is a commitless no-op") {
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "autocompact"),
      Files.createTempDirectory("graft_spec_autocompact").toUri,
      PartitionSchema(List(PartitionColumn("date"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))

    val events = (1L to 60L).map(i =>
      Event(i, s"k$i", if (i % 3 == 0) "2024-01-01" else if (i % 3 == 1) "2024-01-02" else "2024-01-03"))
    events.toDS().repartition(8)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))
    // partition 01-03 rewritten tight: 2 files — below the threshold
    events.filter(_.date == "2024-01-03").toDS().repartition(2)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: 01-03 tight"))
    val before = log.currentVersion(table.name)
      .asInstanceOf[PartitionedTableVersion].partitionVersions
    val tight = Partition(ColumnValue(PartitionColumn("date"), "2024-01-03"))

    val report = Compaction.autoCompact(spark, ctx, table, user, minFiles = 4)
    report.snapshot shouldBe false
    report.partitions.map(_.hivePath).toSet shouldBe
      Set("date=2024-01-01", "date=2024-01-02")
    val after = log.currentVersion(table.name)
      .asInstanceOf[PartitionedTableVersion].partitionVersions
    after(tight) shouldBe before(tight) // untouched pointer
    report.partitions.foreach { p =>
      after(p) should not be before(p)
      dataFiles(Paths.get(table.location)
        .resolve(p.hivePath).resolve(after(p).label)) shouldBe 1L
    }
    VersionedReader(spark, log).read(table)
      .as[Event].collect().sortBy(_.id) shouldBe events.toArray

    // everything now packed: a second pass is a clean no-op, no commit
    val commits = log.updates(table.name).size
    Compaction.autoCompact(spark, ctx, table, user, minFiles = 4)
      .compactedAnything shouldBe false
    log.updates(table.name).size shouldBe commits
  }

  test("SQL OPTIMIZE ... AUTO drives autoCompact through the catalog") {
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "autocompact_sql"),
      Files.createTempDirectory("graft_spec_autocompact_sql").toUri,
      PartitionSchema(List(PartitionColumn("date"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    spark.conf.set(
      "spark.sql.catalog.graftauto", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftauto", log)
    GraftTableCatalog.register("graftauto", table)
    (1L to 30L).map(i => Event(i, s"k$i", "2024-01-01")).toDS().repartition(6)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))

    val row = spark.sql("OPTIMIZE graftauto.test.autocompact_sql AUTO MIN 4 FILES").head
    (row.getInt(0), row.getString(1)) shouldBe ((1, "partitions"))
    spark.sql("SELECT count(*) FROM graftauto.test.autocompact_sql")
      .head.getLong(0) shouldBe 30L
    // packed now — re-running reports nothing
    val again = spark.sql("OPTIMIZE graftauto.test.autocompact_sql AUTO MIN 4 FILES").head
    (again.getInt(0), again.getString(1)) shouldBe ((0, "nothing"))
  }

  test("autoCompact detection reads the _stats sidecar when present (no listing dependency)") {
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "autocompact_stats"),
      Files.createTempDirectory("graft_spec_autocompact_stats").toUri,
      PartitionSchema(List(PartitionColumn("date"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    val events = (1L to 40L).map(i =>
      Event(i, s"k$i", if (i % 2 == 0) "2024-01-01" else "2024-01-02"))
    events.toDS().repartition(8)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))
    // the current state carries a per-file sidecar — detection must agree
    // with it and compact both pressured partitions
    FileStats.writeZoneMaps(spark, log, table, Seq("id"))
    val report = Compaction.autoCompact(spark, ctx, table, user, minFiles = 4)
    report.partitions.map(_.hivePath).toSet shouldBe
      Set("date=2024-01-01", "date=2024-01-02")
    VersionedReader(spark, log).read(table)
      .as[Event].collect().sortBy(_.id) shouldBe events.toArray

    // post-compaction state has no sidecar for the new commit: the
    // distributed-listing fallback sees 1 file per partition — clean no-op
    Compaction.autoCompact(spark, ctx, table, user, minFiles = 4)
      .compactedAnything shouldBe false
  }
}
