package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class GeneratedColumnsSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("gen-test")

  private def fresh(name: String, partCol: String): (VersionContext, InMemoryTableVersions, TableDefinition) = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("db", name),
      Files.createTempDirectory(s"graft_gen_$name").toUri,
      PartitionSchema(List(PartitionColumn(partCol))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    (ctx, log, t)
  }

  test("absent generated column is derived; supplied-and-correct passes; supplied-and-wrong rejects") {
    val (ctx, log, t) = fresh("gen1", "parity")
    GeneratedColumns.add(spark, ctx, t,
      GeneratedColumns.GeneratedColumn(
        "parity", "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END"), user)

    // absent → derived, rows land in the derived partitions
    (1L to 10L).map(i => (i, s"k$i")).toDF("id", "kind")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val reader = VersionedReader(spark, log)
    reader.read(t).where(col("parity") === "even").count() shouldBe 5L

    // supplied and correct → passes (partition-overwrite semantics: the
    // one-row batch REPLACES the odd partition)
    Seq((11L, "x", "odd")).toDF("id", "kind", "parity")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v2"))
    reader.read(t).count() shouldBe 6L
    reader.read(t).where(col("parity") === "odd")
      .select("id").as[Long].collect() shouldBe Array(11L)

    // supplied and wrong → rejects pre-commit, state unmoved
    val head = log.currentVersion(t.name)
    val e = intercept[Throwable] {
      Seq((12L, "y", "odd")).toDF("id", "kind", "parity")
        .versionedInsertInto(ctx, t, user, UpdateMessage("bad"))
    }
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(x => Option(x.getMessage).exists(_.contains("GENERATED"))) shouldBe true
    log.currentVersion(t.name) shouldBe head
  }

  test("SQL DDL spelling records the rule; nondeterministic and conflicting rules reject") {
    val (ctx, log, t) = fresh("gen2", "band")
    spark.conf.set("spark.sql.catalog.graftgen", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftgen", log)
    GraftTableCatalog.register("graftgen", t)
    (1L to 6L).map(i => (i, i * 10.0)).toDF("id", "v")
      .withColumn("band", lit("b0"))
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    // declaring a rule existing rows VIOLATE refuses
    an[Exception] should be thrownBy GeneratedColumns.add(spark, ctx, t,
      GeneratedColumns.GeneratedColumn("band", "concat('bx', id)"), user)
    // nondeterministic rules refuse
    an[Exception] should be thrownBy GeneratedColumns.add(spark, ctx, t,
      GeneratedColumns.GeneratedColumn("r", "CAST(rand() AS STRING)"), user)

    // the Delta DDL spelling lands a rule existing rows satisfy
    spark.sql("ALTER TABLE graftgen.db.gen2 ADD COLUMN band STRING GENERATED ALWAYS AS (concat('b', CAST(id % 1 AS STRING)))")
      .collect()(0).getString(1) should include("generated always")
    GeneratedColumns.list(spark, log, t).map(_.column) shouldBe List("band")
    // and the declaration audit commit is in the history
    log.updates(t.name).head.message.content should include("GENERATED COLUMN band")
  }

  test("Scala-API explicit NULL against a non-null rule raises; SQL column-list omission fills") {
    val (ctx, log, t) = fresh("gen3", "parity")
    GeneratedColumns.add(spark, ctx, t,
      GeneratedColumns.GeneratedColumn(
        "parity", "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END"), user)
    (1L to 4L).map(i => (i, s"k$i")).toDF("id", "kind")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    // the Scala API supplies exactly what the caller built: an explicit
    // NULL disagreeing with the (non-null) rule is a violation, not an
    // omission — the strict GENERATED ALWAYS contract
    val head = log.currentVersion(t.name)
    val e = intercept[Throwable] {
      Seq((5L, "x", null: String)).toDF("id", "kind", "parity")
        .versionedInsertInto(ctx, t, user, UpdateMessage("bad null"))
    }
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(x => Option(x.getMessage).exists(_.contains("GENERATED"))) shouldBe true
    log.currentVersion(t.name) shouldBe head

    // a SQL column-list INSERT omitting the column arrives analyzer-NULL-
    // filled and must DERIVE (the Delta fill contract) — the SQL entry
    // point declares itself via the fill scope
    spark.conf.set("spark.sql.catalog.graftgen3", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftgen3", log)
    GraftTableCatalog.register("graftgen3", t)
    spark.sql("INSERT INTO graftgen3.db.gen3 (id, kind) VALUES (6, 'y')")
    VersionedReader(spark, log).read(t)
      .where(col("id") === 6L).select("parity")
      .as[String].collect() shouldBe Array("even")
  }
}
