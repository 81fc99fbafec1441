package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class ColumnMappingSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("map-test")

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

  test("rename is metadata-only: old and new files read under the new name; time travel shows the old") {
    val (ctx, log, table) = freshTable("map_rename")
    (1L to 10L).map(i => Event(i, s"k$i", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val preRename = log.currentCommit(table.name)

    ColumnMapping.rename(spark, ctx, table, "kind", "category", user)
    log.updates(table.name).head.message.content should include("RENAME COLUMN kind TO category")

    // post-rename writes use the LOGICAL name; files store the physical
    Seq((11L, "catX", "2024-01-02")).toDF("id", "category", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))
    // the raw (physical) scan shows the original column name in BOTH files
    VersionedReader(spark, log).read(table).columns should contain("kind")

    // the mapped read unifies both generations under the new logical name
    val mapped = ColumnMapping.read(spark, log, table)
    mapped.columns should contain("category")
    mapped.columns should not contain "kind"
    mapped.count() shouldBe 11L
    mapped.where(col("category") === "catX").count() shouldBe 1L
    mapped.where(col("category") === "k3").count() shouldBe 1L

    // time travel to the pre-rename commit reads the schema of THAT commit
    val old = ColumnMapping.read(spark, log, table, Some(preRename))
    old.columns should contain("kind")
    old.columns should not contain "category"
    old.count() shouldBe 10L
  }

  test("drop stops projecting without touching files; pre-drop commits still show the column") {
    val (ctx, log, table) = freshTable("map_drop")
    (1L to 6L).map(i => Event(i, s"k$i", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val preDrop = log.currentCommit(table.name)
    ColumnMapping.dropColumn(spark, ctx, table, "kind", user)

    val now = ColumnMapping.read(spark, log, table)
    now.columns.toList shouldBe List("id", "date") // kind gone, bytes intact
    VersionedReader(spark, log).read(table).columns should contain("kind")
    ColumnMapping.read(spark, log, table, Some(preDrop)).columns should contain("kind")

    // a write naming the dropped column refuses loudly
    val ex = intercept[IllegalArgumentException] {
      Seq((7L, "zombie", "2024-01-01")).toDF("id", "kind", "date")
        .versionedInsertInto(ctx, table, user, UpdateMessage("bad"))
    }
    ex.getMessage should include("dropped column")
    // a write WITHOUT it is fine
    Seq((8L, "2024-01-02")).toDF("id", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))
    ColumnMapping.read(spark, log, table).count() shouldBe 7L
  }

  test("refusals: partition columns, unknown columns, collisions; rename composes with DV deletes") {
    val (ctx, log, table) = freshTable("map_refuse")
    (1L to 8L).map(i => Event(i, s"k$i", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    intercept[IllegalArgumentException](
      ColumnMapping.rename(spark, ctx, table, "date", "day", user))
    intercept[IllegalArgumentException](
      ColumnMapping.rename(spark, ctx, table, "no_such", "x", user))
    intercept[IllegalArgumentException](
      ColumnMapping.rename(spark, ctx, table, "kind", "id", user))

    // DV delete then rename: the mapped read applies vectors AND mapping
    DeletionVectors.delete(
      ctx, log, table, col("id") <= 3, user, UpdateMessage("dv")) shouldBe 3L
    ColumnMapping.rename(spark, ctx, table, "kind", "category", user)
    val mapped = ColumnMapping.read(spark, log, table)
    mapped.count() shouldBe 5L
    mapped.columns should contain("category")

    // two renames stack: the latest state wins for current reads
    ColumnMapping.rename(spark, ctx, table, "category", "label", user)
    ColumnMapping.read(spark, log, table).columns should contain("label")

    // DV delete AFTER the renames resolves the predicate against the
    // LOGICAL view: the new name prunes, the stale physical name refuses
    // loudly (matching raw physical names would silently hit the wrong
    // column once renames stack)
    DeletionVectors.delete(
      ctx, log, table, col("label") === "k4", user, UpdateMessage("dv2")) shouldBe 1L
    ColumnMapping.read(spark, log, table).count() shouldBe 4L
    an[org.apache.spark.sql.AnalysisException] should be thrownBy {
      DeletionVectors.delete(
        ctx, log, table, col("kind") === "k5", user, UpdateMessage("dv3"))
    }
    ()
  }

  test("SQL ALTER TABLE RENAME/DROP COLUMN drive the mapping; SELECT serves the logical view") {
    val (ctx, log, table) = freshTable("map_sql")
    spark.conf.set(
      "spark.sql.catalog.graftmap", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftmap", log)
    (1L to 10L).map(i => Event(i, s"k$i", "a"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    GraftTableCatalog.register("graftmap", table,
      Some(VersionedReader(spark, log).read(table).schema))
    val preRename = log.currentCommit(table.name)

    spark.sql("ALTER TABLE graftmap.test.map_sql RENAME COLUMN kind TO category")
    // SELECT resolves the NEW logical name over the OLD physical files
    spark.sql("SELECT category FROM graftmap.test.map_sql WHERE id = 3")
      .head.getString(0) shouldBe "k3"
    // the old name is gone from the SQL surface
    intercept[Exception](
      spark.sql("SELECT kind FROM graftmap.test.map_sql").collect())
    // INSERT under the new name lands in the same physical column
    spark.sql("INSERT INTO graftmap.test.map_sql VALUES (11, 'fresh', 'b')")
    spark.sql(
      "SELECT category FROM graftmap.test.map_sql WHERE id = 11").head.getString(0) shouldBe "fresh"
    VersionedReader(spark, log).read(table).columns should contain("kind") // physical everywhere

    // time travel BEFORE the rename serves that commit's schema via the
    // Scala surface (SQL relation output is pinned to the current schema)
    ColumnMapping.read(spark, log, table, Some(preRename)).columns should contain("kind")

    // row-level SQL DML speaks the LOGICAL name and flows through the
    // copy-on-write commands (which read logical and write back mapped)
    spark.sql(
      "UPDATE graftmap.test.map_sql SET category = 'upd' WHERE id = 2")
    spark.sql(
      "SELECT category FROM graftmap.test.map_sql WHERE id = 2").head.getString(0) shouldBe "upd"
    spark.sql("DELETE FROM graftmap.test.map_sql WHERE category = 'upd'")
    spark.sql(
      "SELECT count(*) FROM graftmap.test.map_sql").head.getLong(0) shouldBe 10L // 11 - 1
    VersionedReader(spark, log).read(table).columns should contain("kind") // still physical

    // DROP stops projecting; re-adding the dropped name refuses
    spark.sql("ALTER TABLE graftmap.test.map_sql DROP COLUMN category")
    spark.sql("SELECT * FROM graftmap.test.map_sql").columns.toList shouldBe List("id", "date")
    intercept[Exception](
      spark.sql("ALTER TABLE graftmap.test.map_sql ADD COLUMN category STRING"))
  }

  test("SQL MERGE with UPDATE SET * / INSERT * after a RENAME COLUMN aligns the source by logical names") {
    Seq(false, true).foreach { autoMerge =>
      val name = s"map_merge_$autoMerge"
      val (ctx, log, table) = freshTable(name)
      spark.conf.set("spark.sql.catalog.graftmapmerge", classOf[GraftTableCatalog].getName)
      GraftTableCatalog.bind("graftmapmerge", log)
      (1L to 3L).map(i => Event(i, s"k$i", "a"))
        .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
      GraftTableCatalog.register("graftmapmerge", table,
        Some(VersionedReader(spark, log).read(table).schema))
      val t = s"graftmapmerge.test.$name"
      spark.sql(s"ALTER TABLE $t RENAME COLUMN kind TO category")
      Seq((2L, "upd", "a"), (4L, "new", "b")).toDF("id", "category", "date")
        .createOrReplaceTempView("map_merge_src")
      SessionConf.withConf(spark, "spark.graft.dml.autoMergeSchema", autoMerge.toString) {
        spark.sql(
          s"""MERGE INTO $t t USING map_merge_src s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      spark.sql(s"SELECT id, category, date FROM $t").as[(Long, String, String)]
        .collect().sorted shouldBe Array(
          (1L, "k1", "a"), (2L, "upd", "a"), (3L, "k3", "a"), (4L, "new", "b"))
      spark.sql(s"SELECT * FROM $t").columns.toList shouldBe List("id", "category", "date")
      VersionedReader(spark, log).read(table).columns should contain("kind") // still physical
    }
  }

  test("type widening is metadata-only: narrow old files upcast, wide writes land, time travel stays narrow") {
    val (ctx, log, table) = freshTable("map_widen")
    // v1 stores int + float (the narrow physical types)
    Seq((1, 1.5f, "2024-01-01"), (2, 2.5f, "2024-01-01"))
      .toDF("n", "x", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: narrow"))
    val preWiden = log.currentCommit(table.name)
    VersionedReader(spark, log).read(table).schema("n").dataType.catalogString shouldBe "int"

    ColumnMapping.widen(spark, ctx, table, "n", "bigint", user)
    ColumnMapping.widen(spark, ctx, table, "x", "double", user)

    // post-widen write carries values only the wide type can hold
    Seq((6000000000L, 3.5d, "2024-01-02")).toDF("n", "x", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: wide"))

    // the mapped read serves BOTH generations as the wide type
    val mapped = ColumnMapping.read(spark, log, table)
    mapped.schema("n").dataType.catalogString shouldBe "bigint"
    mapped.schema("x").dataType.catalogString shouldBe "double"
    mapped.select("n").as[Long].collect().sorted shouldBe Array(1L, 2L, 6000000000L)
    mapped.where(col("n") === 2).select("x").as[Double].head() shouldBe 2.5d

    // time travel BEFORE the widen reads the narrow type (at-or-before)
    ColumnMapping.read(spark, log, table, Some(preWiden))
      .schema("n").dataType.catalogString shouldBe "int"

    // refusals: narrowing, lossy, unknown, partition columns
    intercept[IllegalArgumentException](
      ColumnMapping.widen(spark, ctx, table, "n", "int", user))
    intercept[IllegalArgumentException](
      ColumnMapping.widen(spark, ctx, table, "x", "float", user))
    intercept[IllegalArgumentException](
      ColumnMapping.widen(spark, ctx, table, "nope", "bigint", user))
    intercept[IllegalArgumentException](
      ColumnMapping.widen(spark, ctx, table, "date", "bigint", user))
  }

  test("SQL ALTER COLUMN TYPE widens; scans, aggregates and inserts serve the wide type") {
    val (ctx, log, table) = freshTable("map_widen_sql")
    spark.conf.set(
      "spark.sql.catalog.graftwiden", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftwiden", log)
    Seq((1, "a", "d1"), (2, "b", "d1")).toDF("n", "kind", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: int"))
    GraftTableCatalog.register("graftwiden", table,
      Some(VersionedReader(spark, log).read(table).schema))

    spark.sql("ALTER TABLE graftwiden.test.map_widen_sql ALTER COLUMN n TYPE BIGINT")
    // an insert beyond int range lands and reads back
    spark.sql("INSERT INTO graftwiden.test.map_widen_sql VALUES (6000000000, 'c', 'd2')")
    val rows = spark.sql(
      "SELECT n FROM graftwiden.test.map_widen_sql ORDER BY n").as[Long].collect()
    rows shouldBe Array(1L, 2L, 6000000000L)
    spark.sql("SELECT sum(n) FROM graftwiden.test.map_widen_sql")
      .head.getLong(0) shouldBe 6000000003L
    // narrowing refuses through SQL too
    intercept[Exception](spark.sql(
      "ALTER TABLE graftwiden.test.map_widen_sql ALTER COLUMN n TYPE INT"))
  }

  test("nested rename/drop are metadata-only: struct rebuilds logical, time travel shows the old shape") {
    val (ctx, log, table) = freshTable("map_nested")
    spark.conf.set("spark.sql.catalog.graftmapn", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftmapn", log)
    GraftTableCatalog.register("graftmapn", table)
    val name = "graftmapn.test.map_nested"
    spark.sql(
      """SELECT id, named_struct('lang', concat('l', id), 'aux', 'x') AS meta,
        |       '2024-01-01' AS date FROM range(1, 4)""".stripMargin)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val preRename = log.currentCommit(table.name)

    def metaFields(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.schema.fields.find(_.name == "meta").get.dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq

    // RENAME meta.lang -> language: metadata-only, audited
    spark.sql(s"ALTER TABLE $name RENAME COLUMN meta.lang TO language")
    log.updates(table.name).head.message.content should include(
      "RENAME COLUMN meta.lang TO language")
    val mapped = spark.table(name)
    metaFields(mapped) shouldBe Seq("language", "aux")
    mapped.select("meta.language").as[String].collect().sorted shouldBe
      Array("l1", "l2", "l3")

    // post-rename writes speak the LOGICAL name; files store the physical
    spark.sql(
      s"""INSERT INTO $name
         |SELECT 11L AS id, named_struct('language', 'l11', 'aux', 'y') AS meta,
         |       DATE'2024-01-02' AS date""".stripMargin)
    // physical field name frozen in BOTH generations
    val raw = VersionedReader(spark, log).read(table)
    raw.schema.fields.find(_.name == "meta").get.dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames should contain("lang")
    spark.table(name).where(col("meta.language") === "l11").count() shouldBe 1L
    spark.table(name).count() shouldBe 4L

    // time travel (Scala surface, the top-level discipline): the
    // pre-rename commit reads the OLD field name
    metaFields(ColumnMapping.read(spark, log, table, Some(preRename))) shouldBe
      Seq("lang", "aux")
    val preDrop = log.currentCommit(table.name)

    // DROP meta.aux: stops projecting, files untouched, pre-drop commits
    // still show it
    spark.sql(s"ALTER TABLE $name DROP COLUMN meta.aux")
    metaFields(spark.table(name)) shouldBe Seq("language")
    spark.table(name).count() shouldBe 4L
    metaFields(ColumnMapping.read(spark, log, table, Some(preDrop))) shouldBe
      Seq("language", "aux")

    // a dropped nested field cannot be reborn
    intercept[Exception](spark.sql(
      s"ALTER TABLE $name ADD COLUMN meta.aux STRING"))
      .getMessage should include("cannot be re-added")
    // …but a FRESH nested field can
    spark.sql(s"ALTER TABLE $name ADD COLUMN meta.score DOUBLE")
    metaFields(spark.table(name)) shouldBe Seq("language", "score")

    // a batch naming the dropped field refuses at the write translation
    val bad = spark.sql(
      """SELECT 99L AS id,
        |       named_struct('language', 'x', 'aux', 'z', 'score', 1.0) AS meta,
        |       '2024-01-03' AS date""".stripMargin)
    intercept[Exception](
      bad.versionedInsertInto(ctx, table, user, UpdateMessage("bad")))
      .getMessage should include("dropped field")
  }

  test("array-element rename/drop: transform-lambda rebuild, frozen physical names, time travel, rebirth refusal at depth") {
    val (ctx, log, table) = freshTable("map_arr")
    spark.conf.set("spark.sql.catalog.graftmapa", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftmapa", log)
    GraftTableCatalog.register("graftmapa", table)
    val name = "graftmapa.test.map_arr"
    // v1: array<struct<x,note>> — two elements per row, one NULL array row
    spark.sql(
      """SELECT id,
        |       CASE WHEN id = 3 THEN CAST(NULL AS ARRAY<STRUCT<x: INT, note: STRING>>)
        |            ELSE array(named_struct('x', CAST(id AS INT), 'note', concat('n', id)),
        |                       named_struct('x', CAST(id * 10 AS INT), 'note', 'm')) END AS tags,
        |       '2024-01-01' AS date FROM range(1, 4)""".stripMargin)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val preRename = log.currentCommit(table.name)

    def elemFields(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.schema.fields.find(_.name == "tags").get.dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq

    // RENAME tags.element.x -> score: metadata-only, audited
    spark.sql(s"ALTER TABLE $name RENAME COLUMN tags.element.x TO score")
    log.updates(table.name).head.message.content should include(
      "RENAME COLUMN tags.element.x TO score")
    val mapped = spark.table(name)
    elemFields(mapped) shouldBe Seq("score", "note")
    // old files serve the new name per element; the NULL array stays NULL
    mapped.select(org.apache.spark.sql.functions.expr("tags[0].score"))
      .as[Option[Int]].collect().flatten.sorted shouldBe Array(1, 2)
    mapped.where(col("tags").isNull).count() shouldBe 1L

    // post-rename writes speak the LOGICAL name; files store the physical
    spark.sql(
      s"""INSERT INTO $name
         |SELECT 11L AS id,
         |       array(named_struct('score', 110, 'note', 'w')) AS tags,
         |       DATE'2024-01-02' AS date""".stripMargin)
    val raw = VersionedReader(spark, log).read(table)
    raw.schema.fields.find(_.name == "tags").get.dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames should contain("x")
    spark.table(name)
      .where(org.apache.spark.sql.functions.expr("tags[0].score = 110"))
      .count() shouldBe 1L

    // time travel: the pre-rename commit reads the OLD element shape
    elemFields(ColumnMapping.read(spark, log, table, Some(preRename))) shouldBe
      Seq("x", "note")
    val preDrop = log.currentCommit(table.name)

    // DROP tags.element.note: stops projecting per element, files untouched
    spark.sql(s"ALTER TABLE $name DROP COLUMN tags.element.note")
    elemFields(spark.table(name)) shouldBe Seq("score")
    spark.table(name).count() shouldBe 4L
    elemFields(ColumnMapping.read(spark, log, table, Some(preDrop))) shouldBe
      Seq("score", "note")

    // the dropped-name-rebirth refusal AT DEPTH: old files still carry
    // the physical field inside every element
    intercept[Exception](spark.sql(
      s"ALTER TABLE $name ADD COLUMN tags.element.note STRING"))
      .getMessage should include("cannot be re-added")
    // …but a FRESH element field can be added (old rows read NULL)
    spark.sql(s"ALTER TABLE $name ADD COLUMN tags.element.w DOUBLE")
    elemFields(spark.table(name)) shouldBe Seq("score", "w")

    // a batch naming the dropped element field refuses at the translation
    val bad = spark.sql(
      """SELECT 99L AS id,
        |       array(named_struct('score', 9, 'note', 'z', 'w', 1.0)) AS tags,
        |       DATE'2024-01-03' AS date""".stripMargin)
    intercept[Exception](
      bad.versionedInsertInto(ctx, table, user, UpdateMessage("bad")))
      .getMessage should include("dropped field")

    // structural segments are not renamable/droppable
    intercept[Exception](spark.sql(
      s"ALTER TABLE $name RENAME COLUMN tags.element TO items"))
    ()
  }

  test("deep container nesting: struct>array>struct rename and array-of-array rename rebuild correctly") {
    val (ctx, log, table) = freshTable("map_deep")
    spark.conf.set("spark.sql.catalog.graftmapd", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftmapd", log)
    GraftTableCatalog.register("graftmapd", table)
    val name = "graftmapd.test.map_deep"
    // meta: struct< items: array<struct<x,note>> >, grid: array<array<struct<v>>>
    spark.sql(
      """SELECT id,
        |       named_struct('items',
        |         array(named_struct('x', CAST(id AS INT), 'note', 'n'))) AS meta,
        |       array(array(named_struct('v', CAST(id * 2 AS INT)))) AS grid,
        |       '2024-01-01' AS date FROM range(1, 4)""".stripMargin)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    // rename through struct -> array -> struct
    spark.sql(s"ALTER TABLE $name RENAME COLUMN meta.items.element.x TO score")
    spark.table(name)
      .select(org.apache.spark.sql.functions.expr("meta.items[0].score"))
      .as[Int].collect().sorted shouldBe Array(1, 2, 3)
    // and through array -> array -> struct
    spark.sql(s"ALTER TABLE $name RENAME COLUMN grid.element.element.v TO w")
    spark.table(name)
      .select(org.apache.spark.sql.functions.expr("grid[0][0].w"))
      .as[Int].collect().sorted shouldBe Array(2, 4, 6)

    // post-rename writes translate back at full depth: physical names in files
    spark.sql(
      s"""INSERT INTO $name
         |SELECT 9L, named_struct('items', array(named_struct('score', 9, 'note', 'm'))),
         |       array(array(named_struct('w', 18))), DATE'2024-01-01'""".stripMargin)
    val raw = VersionedReader(spark, log).read(table)
    raw.selectExpr("meta.items[0].x").as[Int].collect().sorted shouldBe
      Array(1, 2, 3, 9)
    raw.selectExpr("grid[0][0].v").as[Int].collect().sorted shouldBe
      Array(2, 4, 6, 18)
    spark.table(name).count() shouldBe 4L
  }

  test("map value-field rename rebuilds through transform_values; key-field drops refuse") {
    val (ctx, log, table) = freshTable("map_map")
    spark.conf.set("spark.sql.catalog.graftmapm", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftmapm", log)
    GraftTableCatalog.register("graftmapm", table)
    val name = "graftmapm.test.map_map"
    spark.sql(
      """SELECT id,
        |       map(named_struct('k', CAST(id AS INT), 'v', 'a'),
        |           named_struct('cnt', CAST(id AS INT), 'aux', 'u')) AS m,
        |       '2024-01-01' AS date FROM range(1, 4)""".stripMargin)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    spark.sql(s"ALTER TABLE $name RENAME COLUMN m.value.cnt TO hits")
    val df = spark.table(name)
    df.schema("m").dataType.asInstanceOf[org.apache.spark.sql.types.MapType]
      .valueType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq shouldBe Seq("hits", "aux")
    df.select(org.apache.spark.sql.functions.expr("map_values(m)[0].hits"))
      .as[Int].collect().sorted shouldBe Array(1, 2, 3)

    // renaming inside map KEYS is fine (key equality is on values, not
    // names) — the transform_keys rebuild serves old files
    spark.sql(s"ALTER TABLE $name RENAME COLUMN m.key.v TO tag")
    spark.table(name)
      .select(org.apache.spark.sql.functions.expr("map_keys(m)[0].tag"))
      .as[String].collect().toSet shouldBe Set("a")

    // dropping inside map KEYS refuses (a metadata-only change cannot
    // risk collapsing distinct keys into duplicates)
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE $name DROP COLUMN m.key.tag"))
    e.getMessage should include("KEYS")
  }

  test("rename refuses engine-owned and rule-referenced columns (round 15)") {
    val (ctx, _, table) = freshTable("map_guard")
    Seq((1L, "a", 5L, "n", "2024-01-01")).toDF("id", "kind", "qty", "note", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    IdentityColumns.declare(spark, ctx, table, "id", user)
    (the[IllegalArgumentException] thrownBy
      ColumnMapping.rename(spark, ctx, table, "id", "rid", user))
      .getMessage should include("identity")

    GeneratedColumns.add(spark, ctx, table,
      GeneratedColumns.GeneratedColumn("y", "concat(kind, 'x')"), user)
    (the[IllegalArgumentException] thrownBy
      ColumnMapping.rename(spark, ctx, table, "y", "yy", user))
      .getMessage should include("generation rule")
    (the[IllegalArgumentException] thrownBy
      ColumnMapping.rename(spark, ctx, table, "kind", "category", user))
      .getMessage should include("generation rule")

    Constraints.add(spark, ctx, table, Constraints.check("qty_pos", "qty > 0"), user)
    (the[IllegalArgumentException] thrownBy
      ColumnMapping.rename(spark, ctx, table, "qty", "quantity", user))
      .getMessage should include("constraint")

    // an unreferenced column still renames freely
    noException should be thrownBy
      ColumnMapping.rename(spark, ctx, table, "note", "comment", user)
  }

  test("two racing RENAMEs both resolve: the loser of the commit race re-derives from the fresh mapping") {
    // the second rename lands between the first one's fold and its append
    val hooked = new HookedTableVersions(new InMemoryTableVersions)
    val ctx = VersionContext(VersionedMetastore(hooked, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "map_race"), Files.createTempDirectory("graft_map_race").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    Seq((1L, "k1", "l1", "2024-01-01")).toDF("id", "kind", "label", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    hooked.beforeAppend = _ => ColumnMapping.rename(spark, ctx, table, "label", "tag", user)
    ColumnMapping.rename(spark, ctx, table, "kind", "category", user)

    val mapped = ColumnMapping.read(spark, hooked, table)
    mapped.columns.toSeq shouldBe Seq("id", "category", "tag", "date")
    mapped.select("category", "tag").as[(String, String)].collect() shouldBe Array(("k1", "l1"))
  }
}
