package graft.spark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/** Identifier robustness of the regex statement grammar: backquoted
  * segments parse (and may carry reserved words), unquoted reserved-word
  * segments refuse loudly instead of risking a silent mis-parse, and
  * FORMAT_OPTIONS values may contain commas. */
class GraftSqlParserSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("parser-test")

  private def setup(cat: String, name: String): (VersionContext, InMemoryTableVersions, TableDefinition) = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind(cat, log)
    val t = TableDefinition(
      TableName("db", name),
      Files.createTempDirectory(s"graft_parser_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    GraftTableCatalog.register(cat, t)
    (ctx, log, t)
  }

  test("backquoted identifiers parse in every position") {
    val (ctx, _, t) = setup("graftbq", "plain")
    Seq(Event(1, "a", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    spark.sql("DESCRIBE HISTORY `graftbq`.`db`.`plain`").count() should be >= 2L
    noException should be thrownBy
      spark.sql("OPTIMIZE `graftbq`.db.`plain`").collect()
  }

  test("a table named with a reserved word works backquoted and refuses unquoted") {
    val (ctx, _, t) = setup("graftrw", "history")
    Seq(Event(1, "a", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    // backquoted: addressable like any table
    spark.sql("DESCRIBE HISTORY graftrw.db.`history`").count() should be >= 2L
    // unquoted: the reserved segment refuses loudly, naming the remedy
    (the[RuntimeException] thrownBy
      spark.sql("DESCRIBE HISTORY graftrw.db.history").collect())
      .getMessage should include("backquote")
  }

  test("FORMAT_OPTIONS values may contain commas; malformed bodies refuse") {
    val (_, _, t) = setup("graftfo", "commacsv")
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    GraftTableCatalog.register("graftfo", t, Some(StructType(Seq(
      StructField("id", LongType), StructField("kind", StringType),
      StructField("date", StringType)))))
    val src = Files.createTempDirectory("graft_parser_csv")
    // a comma-SEPARATED csv ingested with an explicit 'sep' = ',' option:
    // the option VALUE is a comma and must not break pair parsing
    java.nio.file.Files.writeString(
      src.resolve("a.csv"), "id,kind,date\n1,x,2024-01-01\n2,y,2024-01-01\n")
    val out = spark.sql(
      s"COPY INTO graftfo.db.commacsv FROM '$src' FILEFORMAT = CSV " +
        "PATTERN = '*.csv' FORMAT_OPTIONS ('header' = 'true', 'sep' = ',')")
      .collect().head
    (out.getInt(0), out.getLong(2)) shouldBe ((1, 2L))

    (the[RuntimeException] thrownBy spark.sql(
      s"COPY INTO graftfo.db.commacsv FROM '$src' FILEFORMAT = CSV " +
        "FORMAT_OPTIONS ('header' = 'true' garbage)").collect())
      .getMessage should include("FORMAT_OPTIONS")
  }

  test("STAGE INSERT INTO carries the touched partition's visible rows; COMMIT serves them beside the batch") {
    val (ctx, log, t) = setup("graftstage", "staged")
    Seq(Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-01"), Event(3, "c", "2024-01-02"))
      .toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    spark.conf.set("spark.graft.dml.mergeOnRead", "true")
    try spark.sql("DELETE FROM graftstage.db.staged WHERE id = 2")
    finally spark.conf.unset("spark.graft.dml.mergeOnRead")
    val untouched = log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) => pvs.filter(_._1.columnValues.head.value == "2024-01-02")
      case other                        => fail(s"not partitioned: $other")
    }
    spark.sql("BEGIN GRAFT TRANSACTION")
    spark.sql("STAGE INSERT INTO graftstage.db.staged " +
      "SELECT 4L AS id, 'd' AS kind, '2024-01-01' AS date")
    spark.sql("COMMIT GRAFT TRANSACTION")
    spark.table("graftstage.db.staged").select("id", "kind", "date")
      .as[(Long, String, String)].collect().sortBy(_._1) shouldBe Array(
        (1L, "a", "2024-01-01"), (3L, "c", "2024-01-02"), (4L, "d", "2024-01-01"))
    log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) => pvs.toSeq should contain allElementsOf untouched
      case other                        => fail(s"not partitioned: $other")
    }
  }
}
