package graft.spark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/** Values survive a post-addressed-commit RENAME on every AS OF surface.
  *
  * The SQL posture (pinned in ColumnMappingSpec) declares the CURRENT
  * logical names on time-traveled relations. The physical column is
  * frozen across renames, so the addressed state's values EXIST under the
  * current name's lineage — a time-traveled read, a shallow clone, and a
  * deep clone must all serve them, never NULL-blank the renamed column
  * (the values sit in every file generation under the frozen physical
  * name; [[ColumnMapping.renamedSince]] is the lineage resolution). */
class RenameTravelCloneSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("rename-travel")

  test("VERSION AS OF a RENAME commit serves the new name when another commit lands right after it") {
    val log = new InMemoryTableVersions
    val catalog = new HookedMetastore
    val ctx = VersionContext(VersionedMetastore(log, catalog))
    val table = TableDefinition(
      TableName("test", "rt_interleave"),
      Files.createTempDirectory("graft_rt_interleave").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (1L to 3L).map(i => Event(i, s"k$i", "a"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    // another writer's commit lands after the RENAME's log append and
    // before the rename returns (its catalog sync runs in between)
    var fired = false
    catalog.afterUpdate = t => if (!fired) {
      fired = true
      log.commit(t, TableVersions.TableUpdate(
        UserId("other"), UpdateMessage("other writer"), java.time.Instant.now(), Nil))
    }
    ColumnMapping.rename(spark, ctx, table, "kind", "category", user)
    fired shouldBe true
    val history = log.updates(table.name).map(_.message.content)
    history.take(2) shouldBe List("other writer", "ALTER TABLE RENAME COLUMN kind TO category")
    val renameCommit = log.updates(table.name)(1).id
    ColumnMapping.read(spark, log, table, Some(renameCommit)).columns should contain("category")
    ColumnMapping.read(spark, log, table, Some(renameCommit)).columns should not contain "kind"
    ColumnMapping.read(spark, log, table).select("category").as[String].collect().sorted shouldBe
      Array("k1", "k2", "k3")
  }

  test("AS OF reads and both clone kinds serve real values across a later rename + reorder") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "rt_src"),
      Files.createTempDirectory("graft_rt_src").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    spark.conf.set(
      "spark.sql.catalog.graftrt", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftrt", log)
    try {
      (1L to 5L).map(i => Event(i, s"k$i", "a"))
        .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
      GraftTableCatalog.register("graftrt", table,
        Some(VersionedReader(spark, log).read(table).schema))
      val pre = log.currentCommit(table.name)

      spark.sql("ALTER TABLE graftrt.test.rt_src RENAME COLUMN kind TO category")
      spark.sql("ALTER TABLE graftrt.test.rt_src ALTER COLUMN category FIRST")
      spark.sql("INSERT INTO graftrt.test.rt_src VALUES ('fresh', 6, 'b')")

      // the source's own SQL AS OF: current logical names, the addressed
      // commit's column ORDER (the baseline schema state), REAL values —
      // a rename must never NULL-blank data on the time-travel surface
      val srcAsOf = spark.sql(
        s"SELECT * FROM graftrt.test.rt_src VERSION AS OF '${pre.id}'")
      srcAsOf.columns.toList shouldBe List("id", "category", "date")
      srcAsOf.collect().map(r => (r.getLong(0), r.getString(1))).sorted shouldBe
        (1L to 5L).map(i => (i, s"k$i"))
      // the Scala surface keeps the at-state names (the pinned split)
      ColumnMapping.read(spark, log, table, Some(pre)).columns should contain("kind")

      // SHALLOW clone AS OF: declares what the AS OF load declares, and
      // the carried CURRENT mapping resolves the frozen physical column
      spark.sql(
        s"""CREATE TABLE graftrt.test.rt_sc SHALLOW CLONE
           |graftrt.test.rt_src VERSION AS OF '${pre.id}'""".stripMargin)
      val sc = spark.sql("SELECT * FROM graftrt.test.rt_sc")
      sc.columns.toList shouldBe List("id", "category", "date")
      sc.collect().map(r => (r.getLong(0), r.getString(1))).sorted shouldBe
        (1L to 5L).map(i => (i, s"k$i"))
      // the clone keeps working as its own table under the current name
      spark.sql("INSERT INTO graftrt.test.rt_sc VALUES (9, 'nine', 'c')")
      spark.sql("SELECT category FROM graftrt.test.rt_sc WHERE id = 9")
        .head.getString(0) shouldBe "nine"
      // ... without moving the source
      spark.sql("SELECT count(*) FROM graftrt.test.rt_src").head.getLong(0) shouldBe 6L

      // DEEP clone AS OF: the independent copy materializes under the
      // registered (current logical) names — values survive
      spark.sql(
        s"""CREATE TABLE graftrt.test.rt_dc DEEP CLONE
           |graftrt.test.rt_src VERSION AS OF '${pre.id}'""".stripMargin)
      val dc = spark.sql("SELECT * FROM graftrt.test.rt_dc")
      dc.columns.toList shouldBe List("id", "category", "date")
      dc.collect().map(r => (r.getLong(0), r.getString(1))).sorted shouldBe
        (1L to 5L).map(i => (i, s"k$i"))

      // DEEP clone at CURRENT of a renamed source: same contract — the
      // copy's files carry the logical names its registration declares
      spark.sql(
        """CREATE TABLE graftrt.test.rt_dc_cur DEEP CLONE
          |graftrt.test.rt_src""".stripMargin)
      val dcc = spark.sql(
        "SELECT category FROM graftrt.test.rt_dc_cur ORDER BY id")
      dcc.collect().map(_.getString(0)).toList shouldBe
        List("k1", "k2", "k3", "k4", "k5", "fresh")
    } finally {
      spark.conf.unset("spark.sql.catalog.graftrt")
    }
  }

  test("NESTED rename after the addressed commit: AS OF serves the struct values, current shape") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "nrt_src"),
      Files.createTempDirectory("graft_nrt").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    spark.conf.set(
      "spark.sql.catalog.graftnrt", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftnrt", log)
    try {
      val name = "graftnrt.test.nrt_src"
      GraftTableCatalog.register("graftnrt", table)
      spark.sql(
        """SELECT id, named_struct('lang', concat('l', id), 'aux', 'x') AS meta,
          |       '2024-01-01' AS date FROM range(1, 4)""".stripMargin)
        .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
      val pre = log.currentCommit(table.name)

      spark.sql(s"ALTER TABLE $name RENAME COLUMN meta.lang TO language")
      spark.sql(
        s"""INSERT INTO $name
           |SELECT 11L AS id, named_struct('language', 'l11', 'aux', 'y') AS meta,
           |       DATE'2024-01-02' AS date""".stripMargin)

      // same posture as the top level: the relation declares the CURRENT
      // shape and the frozen physical field serves the values (the
      // positional struct conform) — never a NULL-blanked nested field
      val asOf = spark.sql(s"SELECT * FROM $name VERSION AS OF '${pre.id}'")
      asOf.schema.fields.find(_.name == "meta").get.dataType.simpleString shouldBe
        "struct<language:string,aux:string>"
      asOf.select("id", "meta.language").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted shouldBe
        (1L to 3L).map(i => (i, s"l$i"))
    } finally {
      spark.conf.unset("spark.sql.catalog.graftnrt")
    }
  }
}
