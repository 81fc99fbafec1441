package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/** [[GraftGeneratedPruningRule]]: filters on a generation's BASE column
  * derive the implied predicate on the GENERATED partition column, so
  * partition pruning fires for queries that never mention the partition
  * column. Range derivation only for provably monotonic generations;
  * strict bounds weaken to non-strict; equality/IN derive for any
  * single-base generation. */
class GeneratedPruningSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._
  private val user = UserId("genprune")

  private val log = new InMemoryTableVersions
  private val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
  spark.conf.set("spark.sql.catalog.graftgp", classOf[GraftTableCatalog].getName)
  GraftTableCatalog.bind("graftgp", log)

  // month = substring(date, 1, 7): string prefix — monotonic
  private val table: TableDefinition = {
    val t = TableDefinition(
      TableName("db", "gp_events"),
      Files.createTempDirectory("graft_gp").toUri,
      PartitionSchema(List(PartitionColumn("month"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    GeneratedColumns.add(spark, ctx, t,
      GeneratedColumns.GeneratedColumn("month", "substring(date, 1, 7)"), user)
    GraftTableCatalog.register("graftgp", t)
    t
  }

  // 90 rows over 2024-01/02/03, day = id % 28 + 1
  Seq.tabulate(90) { i =>
    val id = i + 1L
    Event(id, "k", f"2024-${i % 3 + 1}%02d-${i % 28 + 1}%02d")
  }.toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

  private def monthFilters(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case f: LFilter if f.condition.references.exists(_.name == "month") =>
        f.condition.sql
    }

  test("range on the base column derives a month range and prunes") {
    val df = spark.sql(
      "SELECT count(*) AS n FROM graftgp.db.gp_events WHERE date >= '2024-02-15'")
    monthFilters(df) should not be empty
    // correctness: Feb rows with day >= 15 plus ALL of Mar
    df.as[Long].head() shouldBe
      Seq.tabulate(90)(i => f"2024-${i % 3 + 1}%02d-${i % 28 + 1}%02d")
        .count(_ >= "2024-02-15").toLong
  }

  test("strict bound weakens to non-strict on the generated column (boundary rows kept)") {
    // date > '2024-02-01': month-boundary row 2024-02-xx must SURVIVE the
    // derived month >= '2024-02' (a strict month bound would drop all Feb)
    val df = spark.sql(
      "SELECT count(*) AS n FROM graftgp.db.gp_events WHERE date > '2024-02-01'")
    monthFilters(df) should not be empty
    df.as[Long].head() shouldBe
      Seq.tabulate(90)(i => f"2024-${i % 3 + 1}%02d-${i % 28 + 1}%02d")
        .count(_ > "2024-02-01").toLong
  }

  test("equality and IN derive month membership") {
    val dfEq = spark.sql(
      "SELECT count(*) AS n FROM graftgp.db.gp_events WHERE date = '2024-03-03'")
    monthFilters(dfEq) should not be empty
    dfEq.as[Long].head() shouldBe
      Seq.tabulate(90)(i => f"2024-${i % 3 + 1}%02d-${i % 28 + 1}%02d")
        .count(_ == "2024-03-03").toLong
    val dfIn = spark.sql(
      "SELECT count(*) AS n FROM graftgp.db.gp_events " +
        "WHERE date IN ('2024-01-05', '2024-02-06')")
    monthFilters(dfIn) should not be empty
    dfIn.as[Long].head() shouldBe 2L
  }

  test("filters on other columns derive nothing") {
    monthFilters(spark.sql(
      "SELECT count(*) AS n FROM graftgp.db.gp_events WHERE id > 50")) shouldBe empty
  }

  test("non-monotonic generation: equality derives, ranges do not") {
    val t = TableDefinition(
      TableName("db", "gp_band"),
      Files.createTempDirectory("graft_gp_band").toUri,
      PartitionSchema(List(PartitionColumn("band"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    GeneratedColumns.add(spark, ctx, t,
      GeneratedColumns.GeneratedColumn(
        "band", "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END"), user)
    GraftTableCatalog.register("graftgp", t)
    Seq.tabulate(20)(i => Event(i + 1L, "k", "2024-01-01")).toDF()
      .select($"id", $"kind")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    def bandFilters(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case f: LFilter if f.condition.references.exists(_.name == "band") =>
          f.condition.sql
      }
    val dfEq = spark.sql("SELECT count(*) AS n FROM graftgp.db.gp_band WHERE id = 4")
    bandFilters(dfEq) should not be empty
    dfEq.as[Long].head() shouldBe 1L
    // a range over a CASE banding is NOT order-preserving — no derivation
    bandFilters(spark.sql(
      "SELECT count(*) AS n FROM graftgp.db.gp_band WHERE id >= 4")) shouldBe empty
  }

  test("time-traveled scans derive nothing (old rows never passed the rule's validation)") {
    val commit = log.currentCommit(table.name).id
    monthFilters(spark.sql(
      s"SELECT count(*) AS n FROM graftgp.db.gp_events VERSION AS OF '$commit' " +
        "WHERE date >= '2024-02-15'")) shouldBe empty
  }

  test("timestamp base: ranges derive under the recorded fixed-offset zone; a mismatched or unrecorded zone derives nothing") {
    import org.apache.spark.sql.functions.to_timestamp
    val t = TableDefinition(
      TableName("db", "gp_ts"),
      Files.createTempDirectory("graft_gp_ts").toUri,
      PartitionSchema(List(PartitionColumn("ehour"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    GeneratedColumns.add(spark, ctx, t,
      GeneratedColumns.GeneratedColumn("ehour", "date_format(ets, 'yyyy-MM-dd HH')"), user)
    GraftTableCatalog.register("graftgp", t)
    Seq.tabulate(48)(i => (i + 1L, f"2024-03-01 ${i % 24}%02d:30:00"))
      .toDF("id", "s").select($"id", to_timestamp($"s").as("ets"))
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    def hourFilters(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case f: LFilter if f.condition.references.exists(_.name == "ehour") =>
          f.condition.sql
      }
    val range =
      "SELECT count(*) AS n FROM graftgp.db.gp_ts WHERE ets >= TIMESTAMP '2024-03-01 12:00:00'"
    val eq =
      "SELECT count(*) AS n FROM graftgp.db.gp_ts WHERE ets = TIMESTAMP '2024-03-01 12:30:00'"
    // session zone UTC == the zone stamped at declare, and it is a fixed
    // offset: sub-day range derivation is sound and fires
    hourFilters(spark.sql(range)) should not be empty
    spark.sql(range).as[Long].head() shouldBe 24L
    // a reader in a DIFFERENT zone would fold f(L) under the wrong zone —
    // refuse everything, equality included
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      hourFilters(spark.sql(range)) shouldBe empty
      hourFilters(spark.sql(eq)) shouldBe empty
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    // metadata predating the zone stamp: writer zone unknown — refuse
    MetadataFiles.generated.commit(spark, ctx.metastore, t, UpdateMessage("pre-zone"), user)(_ =>
      List(GeneratedColumns.GeneratedColumn("ehour", "date_format(ets, 'yyyy-MM-dd HH')")))
    hourFilters(spark.sql(range)) shouldBe empty
    hourFilters(spark.sql(eq)) shouldBe empty
  }

  test("DST session zone matching the recorded zone: equality derives, sub-day ranges do not") {
    import org.apache.spark.sql.functions.to_timestamp
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val t = TableDefinition(
        TableName("db", "gp_ts_ny"),
        Files.createTempDirectory("graft_gp_ts_ny").toUri,
        PartitionSchema(List(PartitionColumn("ehour"))), FileFormat.Parquet)
      ctx.init(t, user, UpdateMessage("init"))
      GeneratedColumns.add(spark, ctx, t,
        GeneratedColumns.GeneratedColumn("ehour", "date_format(ets, 'yyyy-MM-dd HH')"), user)
      GraftTableCatalog.register("graftgp", t)
      Seq.tabulate(24)(i => (i + 1L, f"2024-03-01 ${i % 24}%02d:30:00"))
        .toDF("id", "s").select($"id", to_timestamp($"s").as("ets"))
        .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
      def hourFilters(df: DataFrame): Seq[String] =
        df.queryExecution.analyzed.collect {
          case f: LFilter if f.condition.references.exists(_.name == "ehour") =>
            f.condition.sql
        }
      // equality: same deterministic f under the same zone on both the
      // write and the fold — sound, derives
      val eq = spark.sql(
        "SELECT count(*) AS n FROM graftgp.db.gp_ts_ny WHERE ets = TIMESTAMP '2024-03-01 12:30:00'")
      hourFilters(eq) should not be empty
      eq.as[Long].head() shouldBe 1L
      // range: 'yyyy-MM-dd HH' goes backward across a fall-back transition
      // under a DST zone — no range derivation
      hourFilters(spark.sql(
        "SELECT count(*) AS n FROM graftgp.db.gp_ts_ny " +
          "WHERE ets >= TIMESTAMP '2024-03-01 12:00:00'")) shouldBe empty
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("the scan actually prunes: the derived bound lands as a PartitionFilter") {
    val df = spark.sql(
      "SELECT id FROM graftgp.db.gp_events WHERE date >= '2024-03-01'")
    df.collect().length shouldBe 30
    // the scan node carries the derived month bound as a PARTITION filter
    // (file-index pruning), not merely a data filter
    val plan = df.queryExecution.executedPlan.toString
    ("""PartitionFilters: \[[^\]]*month[^\]]*>= 2024-03""".r
      .findFirstIn(plan)) should not be empty
  }
}
