package graft.spark

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/** Version-dir listings are listed once and then served from the shared
  * file-status cache ([[ListingCache]]): counted with Spark's own listing
  * metrics, and never at the cost of reading a reclaimed dir. */
class ListingCacheSpec extends AnyFunSuite with Matchers {
  import ListingCacheSpec.Listing

  private val spark = TestSpark.session
  import spark.implicits._
  private val user = UserId("listing-test")
  private val catalog = "listcat"

  private val log = new InMemoryTableVersions
  private val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))

  spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GraftTableCatalog].getName)
  GraftTableCatalog.bind(catalog, log)

  /** Spark's listing counters over `body` (process-wide: suites run one
    * at a time, and nothing else lists while `body` runs). */
  private def listed(body: => Unit): Listing = {
    def now = Listing(
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount,
      HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)
    val before = now
    body
    val after = now
    Listing(
      after.discovered - before.discovered,
      after.parallelJobs - before.parallelJobs,
      after.cacheHits - before.cacheHits)
  }

  /** Data files in one version dir, as the file index counts them. */
  private def dataFiles(table: TableDefinition, p: Partition): Long = {
    val v = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs(p)
      case other                        => sys.error(s"not partitioned: $other")
    }
    val dir = Paths.get(new java.net.URI(SparkPaths.dirFor(table.location, p, v)))
    Files.list(dir).toArray.map(_.toString).count { f =>
      val n = Paths.get(f).getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }.toLong
  }

  private def day(d: Int): String = f"2024-02-${d % 28 + 1}%02d-$d%03d"

  private def dayPartition(d: String): Partition =
    Partition(List(ColumnValue(PartitionColumn("date"), d)))

  private def partitionedTable(name: String): TableDefinition = {
    val table = TableDefinition(
      TableName("ldb", name),
      Files.createTempDirectory(s"graft_listing_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register(catalog, table)
    table
  }

  test("an unchanged state is listed once; a commit lists only its new dir (SQL, reader, VERSION AS OF)") {
    val table = partitionedTable("forty")
    // 40 version dirs: above Spark's 32-path parallel-listing threshold
    (0 until 40).map(d => Event(d.toLong, "seed", day(d))).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("load"))
    val loaded = log.updates(table.name).head.id
    val reader = VersionedReader(spark, log)
    val sql = s"SELECT count(*) FROM $catalog.ldb.forty"
    def sqlCount(): Long = spark.sql(sql).as[Long].head()

    val cold = listed(sqlCount() shouldBe 40L)
    cold.discovered should be > 0L

    // SQL: a second read of the same state lists nothing
    val warm = listed(sqlCount() shouldBe 40L)
    warm shouldBe Listing(0, 0, warm.cacheHits)
    warm.cacheHits should be >= 40L

    // one commit adds one dir: only its files are discovered, on the driver
    Seq(Event(100, "new", day(100))).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("one more day"))
    val afterCommit = listed(sqlCount() shouldBe 41L)
    afterCommit.discovered shouldBe dataFiles(table, dayPartition(day(100)))
    afterCommit.parallelJobs shouldBe 0L

    // the Scala reader shares the cache: an unchanged state lists nothing
    val readerWarm = listed(reader.read(table).count() shouldBe 41L)
    readerWarm.discovered shouldBe 0L
    readerWarm.parallelJobs shouldBe 0L

    // a rewrite of one day: the reader discovers only the new dir
    Seq(Event(101, "fix", day(3))).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("rewrite one day"))
    val readerAfterCommit = listed(reader.read(table).count() shouldBe 41L)
    readerAfterCommit.discovered shouldBe dataFiles(table, dayPartition(day(3)))
    readerAfterCommit.parallelJobs shouldBe 0L

    // VERSION AS OF an older commit: its dirs were all listed already
    val travel = listed {
      spark.sql(s"SELECT count(*) FROM $catalog.ldb.forty VERSION AS OF '${loaded.id}'")
        .as[Long].head() shouldBe 40L
      reader.readAsOf(table, loaded).count() shouldBe 40L
    }
    travel shouldBe Listing(0, 0, travel.cacheHits)
  }

  test("a zero-byte file-status cache lists every read again") {
    val table = partitionedTable("nocache")
    (0 until 3).map(d => Event(d.toLong, "seed", day(d))).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("load"))
    val reader = VersionedReader(spark, log)
    reader.read(table).count() shouldBe 3L
    SessionConf.withConf(spark, "spark.sql.hive.filesourcePartitionFileCacheSize", "0") {
      listed(reader.read(table).count() shouldBe 3L).discovered should be >= 3L
    }
  }

  test("REFRESH TABLE drops the cached listings") {
    val table = partitionedTable("refreshed")
    (0 until 3).map(d => Event(d.toLong, "seed", day(d))).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("load"))
    val sql = s"SELECT count(*) FROM $catalog.ldb.refreshed"
    spark.sql(sql).as[Long].head() shouldBe 3L
    listed(spark.sql(sql).as[Long].head() shouldBe 3L).discovered shouldBe 0L
    spark.sql(s"REFRESH TABLE $catalog.ldb.refreshed")
    listed(spark.sql(sql).as[Long].head() shouldBe 3L).discovered should be >= 3L
  }

  test("a state whose dirs were listed, then reclaimed by vacuum, fails analysis") {
    val table = partitionedTable("reclaimed")
    (0 until 3).map(d => Event(d.toLong, "v1", day(d))).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1 = log.updates(table.name).head.id
    // every later commit replaces every day, so v1's dirs go unreferenced
    (2 to 3).foreach { i =>
      (0 until 3).map(d => Event((10 * i + d).toLong, s"v$i", day(d))).toDS()
        .versionedInsertInto(ctx, table, user, UpdateMessage(s"v$i"))
    }
    val travelSql = s"SELECT id FROM $catalog.ldb.reclaimed VERSION AS OF '${v1.id}'"
    val reader = VersionedReader(spark, log)
    // list v1's dirs into the cache through both surfaces
    spark.sql(travelSql).as[Long].collect().sorted shouldBe Array(0L, 1L, 2L)
    reader.readAsOf(table, v1).count() shouldBe 3L

    val report = Vacuum.vacuum(
      table, log, spark.sessionState.newHadoopConf(), keepLast = 1, graceMs = 0)
    report.deleted should have size 6 // v1's and v2's three dirs each

    // analysis itself refuses: never cached rows, never an empty frame
    val viaSql = intercept[Exception](spark.sql(travelSql))
    viaSql.getMessage should include("does not exist")
    val viaReader = intercept[Exception](reader.readAsOf(table, v1))
    viaReader.getMessage should include("does not exist")

    // the current state still reads correctly
    spark.sql(s"SELECT id FROM $catalog.ldb.reclaimed").as[Long].collect().sorted shouldBe
      Array(30L, 31L, 32L)
    reader.read(table).select("id").as[Long].collect().sorted shouldBe Array(30L, 31L, 32L)
  }
}

object ListingCacheSpec {
  final case class Listing(discovered: Long, parallelJobs: Long, cacheHits: Long)
}
