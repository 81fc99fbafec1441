package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class ColumnDefaultsSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._
  private val user = UserId("defaults-test")

  private val log = new InMemoryTableVersions
  private val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
  spark.conf.set("spark.sql.catalog.graftdef", classOf[GraftTableCatalog].getName)
  GraftTableCatalog.bind("graftdef", log)

  private def mkTable(name: String): TableDefinition = {
    val t = TableDefinition(
      TableName("db", name),
      Files.createTempDirectory(s"graft_def_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftdef", t)
    t
  }

  test("defaults fill absent columns on writes; existing rows and supplied values untouched") {
    val t = mkTable("defs")
    Seq(Event(1L, "a", "d1"), Event(2L, "b", "d1"))
      .toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    spark.sql(
      "ALTER TABLE graftdef.db.defs ALTER COLUMN kind SET DEFAULT 'unclassified'")

    // existing rows untouched (kind keeps its written values)
    val reader = VersionedReader(spark, log)
    reader.read(t).where(col("kind").isin("a", "b")).count() shouldBe 2L

    // a Scala-API batch OMITTING the column fills with the default
    Seq((3L, "d2")).toDF("id", "date")
      .as[(Long, String)].toDF("id", "date")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v2: no kind"))
    reader.readMergedSchema(t)
      .where(col("id") === 3L).select("kind").head.getString(0) shouldBe "unclassified"

    // a batch SUPPLYING the column keeps its values, NULL included
    Seq(Event(4L, null, "d3")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v3: explicit null"))
    reader.readMergedSchema(t)
      .where(col("id") === 4L).select("kind").head.isNullAt(0) shouldBe true

    // merge-on-read appends fill too
    RowOverlay.append(
      Seq((5L, "d1")).toDF("id", "date"), ctx, t, user, UpdateMessage("mor"))
    reader.readMergedSchema(t)
      .where(col("id") === 5L).select("kind").head.getString(0) shouldBe "unclassified"

    // SQL INSERT with a column list omitting the defaulted column
    spark.sql(
      "INSERT INTO graftdef.db.defs (id, date) VALUES (6, 'd4')")
    spark.sql("SELECT kind FROM graftdef.db.defs WHERE id = 6")
      .head.getString(0) shouldBe "unclassified"
    // the DEFAULT keyword resolves too
    spark.sql(
      "INSERT INTO graftdef.db.defs (id, kind, date) VALUES (7, DEFAULT, 'd4')")
    spark.sql("SELECT kind FROM graftdef.db.defs WHERE id = 7")
      .head.getString(0) shouldBe "unclassified"

    // DROP DEFAULT: subsequent omitting writes land NULL again
    spark.sql("ALTER TABLE graftdef.db.defs ALTER COLUMN kind DROP DEFAULT")
    Seq((8L, "d5")).toDF("id", "date")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v4: post-drop"))
    reader.readMergedSchema(t)
      .where(col("id") === 8L).select("kind").head.isNullAt(0) shouldBe true
  }

  test("defaults refuse generated/identity columns and non-constant expressions; clones carry them") {
    val t = mkTable("defs_guard")
    Seq(Event(1L, "a", "d1")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    GeneratedColumns.add(
      spark, ctx, t, GeneratedColumns.GeneratedColumn("gen", "id * 2"), user)
    intercept[IllegalArgumentException] {
      ColumnDefaults.set(spark, ctx, t, "gen", "1", user)
    }
    intercept[Exception] {
      ColumnDefaults.set(spark, ctx, t, "kind", "concat(id, 'x')", user)
    }
    ColumnDefaults.set(spark, ctx, t, "kind", "'d'", user)

    val clone = ShallowClone.clone(
      spark, ctx, t, TableName("db", "defs_clone"), user)
    ColumnDefaults.list(spark, log, clone).map(_.column) shouldBe List("kind")
    // the clone's defaults evolve independently of the source's
    ColumnDefaults.drop(spark, ctx, clone, "kind", user)
    ColumnDefaults.list(spark, log, clone) shouldBe Nil
    ColumnDefaults.list(spark, log, t).map(_.column) shouldBe List("kind")
  }
}
