package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class ConstraintsSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("con-test")

  private def freshTable(name: String): (VersionContext, InMemoryTableVersions, TableDefinition) = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", name),
      Files.createTempDirectory(s"graft_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (ctx, log, table)
  }

  test("NOT NULL and CHECK reject violating writes pre-commit; valid writes pass") {
    val (ctx, log, table) = freshTable("con_basic")
    Constraints.add(spark, ctx, table, Constraints.notNull("kind"), user)
    Constraints.add(spark, ctx, table, Constraints.check("id_positive", "id > 0"), user)
    // DDL is audited in the history
    log.updates(table.name).map(_.message.content).take(2) shouldBe List(
      "ADD CONSTRAINT id_positive check (id > 0)",
      "ADD CONSTRAINT kind_not_null notnull (kind)")

    // valid write passes untouched
    (1L to 20L).map(i => Event(i, s"k$i", s"2024-01-0${i % 2 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    VersionedReader(spark, log).read(table).count() shouldBe 20L
    val goodState = log.currentVersion(table.name)

    // a CHECK violation fails the write job and nothing commits
    val bad = intercept[Exception] {
      Seq(Event(-5L, "k", "2024-01-01")).toDS()
        .versionedInsertInto(ctx, table, user, UpdateMessage("bad"))
    }
    bad.getMessage should include("id_positive")
    log.currentVersion(table.name) shouldBe goodState
    VersionedReader(spark, log).read(table).count() shouldBe 20L

    // a NOT NULL violation likewise
    val badNull = intercept[Exception] {
      Seq((21L, null: String, "2024-01-01")).toDF("id", "kind", "date")
        .as[Event].versionedInsertInto(ctx, table, user, UpdateMessage("bad null"))
    }
    badNull.getMessage should include("kind_not_null")
    log.currentVersion(table.name) shouldBe goodState

    // NULL CHECK results pass (SQL-standard unknown), NOT NULL still guards
    Constraints.drop(spark, ctx, table, "kind_not_null", user)
    Seq((30L, null: String, "2024-01-01")).toDF("id", "kind", "date").as[Event]
      .versionedInsertInto(ctx, table, user, UpdateMessage("null kind ok now"))
    VersionedReader(spark, log).read(table).where(col("id") === 30L).count() shouldBe 1L
  }

  test("a constraint cannot be born violated; duplicate names and no-op drops refuse") {
    val (ctx, _, table) = freshTable("con_born")
    Seq(Event(1L, "k", "2024-01-01"), Event(-2L, "k", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val ex = intercept[IllegalArgumentException] {
      Constraints.add(spark, ctx, table, Constraints.check("pos", "id > 0"), user)
    }
    ex.getMessage should include("existing row")
    Constraints.list(spark, table) shouldBe Nil

    Constraints.add(spark, ctx, table, Constraints.check("any", "id <> 0"), user)
    intercept[IllegalArgumentException] {
      Constraints.add(spark, ctx, table, Constraints.check("any", "id < 100"), user)
    }
    intercept[IllegalArgumentException] {
      Constraints.drop(spark, ctx, table, "no_such", user)
    }
  }

  test("SQL INSERT and MERGE enforce table constraints too") {
    val (ctx, log, table) = freshTable("con_sql")
    spark.conf.set(
      "spark.sql.catalog.graftcon", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftcon", log)
    GraftTableCatalog.register("graftcon", table)
    Constraints.add(spark, ctx, table, Constraints.check("id_cap", "id < 1000"), user)
    (1L to 5L).map(i => Event(i, s"k$i", "a"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    spark.sql("INSERT INTO graftcon.test.con_sql VALUES (6, 'k6', 'a')")
    spark.sql("SELECT count(*) FROM graftcon.test.con_sql").head.getLong(0) shouldBe 6L

    val ex = intercept[Exception] {
      spark.sql("INSERT INTO graftcon.test.con_sql VALUES (5000, 'big', 'a')")
    }
    ex.getMessage should include("id_cap")
    spark.sql("SELECT count(*) FROM graftcon.test.con_sql").head.getLong(0) shouldBe 6L

    // MERGE rewrites flow through the same writers
    val exMerge = intercept[Exception] {
      Merge.mergeInto(
        ctx, log, table,
        Seq(Event(7000L, "huge", "a")).toDS().toDF(),
        Seq("id"), user, UpdateMessage("merge bad"), None)
    }
    exMerge.getMessage should include("id_cap")
    spark.sql("SELECT count(*) FROM graftcon.test.con_sql").head.getLong(0) shouldBe 6L
  }

  test("SQL DDL: ADD/DROP CONSTRAINT and ALTER COLUMN SET/DROP NOT NULL") {
    val (ctx, log, table) = freshTable("con_ddl")
    spark.conf.set(
      "spark.sql.catalog.graftddl", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftddl", log)
    GraftTableCatalog.register("graftddl", table,
      Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.StringType)))))
    (1L to 5L).map(i => Event(i, s"k$i", "a"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    spark.sql("ALTER TABLE graftddl.test.con_ddl ADD CONSTRAINT small CHECK (id < 100)")
    Constraints.list(spark, table).map(_.name) shouldBe List("small")
    // enforced on the next SQL write
    intercept[Exception](
      spark.sql("INSERT INTO graftddl.test.con_ddl VALUES (500, 'x', 'a')"))
      .getMessage should include("small")
    // born-violated refuses through the SQL spelling too
    intercept[Exception](
      spark.sql("ALTER TABLE graftddl.test.con_ddl ADD CONSTRAINT neg CHECK (id < 3)"))
    spark.sql("ALTER TABLE graftddl.test.con_ddl DROP CONSTRAINT small")
    Constraints.list(spark, table) shouldBe Nil
    intercept[Exception](
      spark.sql("ALTER TABLE graftddl.test.con_ddl DROP CONSTRAINT no_such"))

    // NOT NULL from SQL spells as a CHECK (Spark's analyzer refuses
    // `ALTER COLUMN … SET NOT NULL` on any nullable column before a
    // catalog ever sees it; `c IS NOT NULL` is FALSE — not unknown — on a
    // null, so the standard CHECK semantics enforce it exactly)
    spark.sql(
      "ALTER TABLE graftddl.test.con_ddl ADD CONSTRAINT kind_nn CHECK (kind IS NOT NULL)")
    intercept[Exception] {
      Seq((9L, null: String, "a")).toDF("id", "kind", "date")
        .versionedInsertInto(ctx, table, user, UpdateMessage("bad"))
    }.getMessage should include("kind_nn")
    spark.sql("ALTER TABLE graftddl.test.con_ddl DROP CONSTRAINT kind_nn")
    Constraints.list(spark, table) shouldBe Nil

    // the programmatic DSv2 SET NOT NULL reaches the catalog (SQL cannot:
    // Spark's analyzer refuses it on any nullable column, hence the CHECK
    // spelling above) — it validates existing data and lands a constraint
    val cat = spark.sessionState.catalogManager.catalog("graftddl")
      .asInstanceOf[GraftTableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("test"), "con_ddl")
    cat.alterTable(ident,
      org.apache.spark.sql.connector.catalog.TableChange.updateColumnNullability(
        Array("kind"), false))
    Constraints.list(spark, table).map(_.name) shouldBe List("kind_not_null")
    // the DECLARED slot carries the nullability (the served relation is
    // everything-nullable, the file-scan posture) — SHOW CREATE proves it
    spark.sql("SHOW CREATE TABLE graftddl.test.con_ddl").head().getString(0) should
      include("`kind` STRING NOT NULL")

    // DROP NOT NULL flips the declared slot and removes the constraint
    spark.sql("ALTER TABLE graftddl.test.con_ddl ALTER COLUMN kind DROP NOT NULL")
    Constraints.list(spark, table) shouldBe Nil
    spark.sql("SHOW CREATE TABLE graftddl.test.con_ddl").head().getString(0) should
      not include ("`kind` STRING NOT NULL")
    log.updates(table.name).head.message.content should include("DROP CONSTRAINT kind_not_null")

    // DROP NOT NULL on a column with no constraint row (CREATE-time
    // declaration) still flips and audits
    cat.alterTable(ident,
      org.apache.spark.sql.connector.catalog.TableChange.updateColumnNullability(
        Array("id"), true))
    log.updates(table.name).head.message.content should include("ALTER COLUMN id DROP NOT NULL")
  }

  test("a torn constraint file fails the write instead of skipping its checks") {
    val (ctx, log, table) = freshTable("con_torn")
    Constraints.add(spark, ctx, table, Constraints.check("id_positive", "id > 0"), user)
    Seq(Event(1L, "k", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val before = log.currentVersion(table.name)
    val file = java.nio.file.Paths.get(MetadataFiles.constraints.path(table).toUri)
    Files.write(file, "{\"torn\":".getBytes("UTF-8"))
    val e = intercept[Exception] {
      Seq(Event(-5L, "k", "2024-01-01")).toDS()
        .versionedInsertInto(ctx, table, user, UpdateMessage("unchecked"))
    }
    e.getMessage should include(file.getFileName.toString)
    log.currentVersion(table.name) shouldBe before
    VersionedReader(spark, log).read(table).count() shouldBe 1L
  }
}
