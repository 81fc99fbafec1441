package graft.spark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

final case class CatRow(id: Long, label: String)
final case class CatEvent(id: Long, label: String, date: String)

/** End-to-end: versioned tables addressed from SQL text by catalog name,
  * including `VERSION AS OF` time travel (SURVEY.md §4.3 DSv2 integration). */
class GraftTableCatalogSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._
  private val user = UserId("cat-test")

  private val log = new InMemoryTableVersions
  private val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))

  spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftTableCatalog].getName)
  GraftTableCatalog.bind("graftcat", log)

  test("snapshot table: SQL by name reads the current version; VERSION AS OF time-travels") {
    val table = TableDefinition(
      TableName("cdb", "snap"),
      Files.createTempDirectory("graft_cat_snap").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)

    Seq(CatRow(1, "v1a"), CatRow(2, "v1b")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1Commit = log.updates(table.name).head.id
    Seq(CatRow(3, "v2a")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))

    spark.sql("SELECT id, label FROM graftcat.cdb.snap ORDER BY id")
      .as[CatRow].collect() shouldBe Array(CatRow(3, "v2a"))

    spark.sql(s"SELECT id, label FROM graftcat.cdb.snap VERSION AS OF '${v1Commit.id}' ORDER BY id")
      .as[CatRow].collect() shouldBe Array(CatRow(1, "v1a"), CatRow(2, "v1b"))

    // time travel to the INIT commit is an empty table — never a scan of
    // the bare location (which would union every version's rows)
    val initCommit = log.updates(table.name).last.id
    spark.sql(s"SELECT * FROM graftcat.cdb.snap VERSION AS OF '${initCommit.id}'")
      .count() shouldBe 0
    VersionedReader(spark, log).readAsOf(table, initCommit).count() shouldBe 0

    // TIMESTAMP AS OF resolves to the last commit at or before the instant
    // (+1 ms: the SQL literal is micros, the commit instant carries nanos —
    // formatting truncates, which would land just BEFORE the commit)
    val v1Ts = log.updates(table.name)
      .find(_.id == v1Commit).get.timestamp
      .plusMillis(1)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    spark.sql(s"SELECT id, label FROM graftcat.cdb.snap TIMESTAMP AS OF '$v1Ts' ORDER BY id")
      .as[CatRow].collect() shouldBe Array(CatRow(1, "v1a"), CatRow(2, "v1b"))
  }

  test("partitioned table: partition columns resolve and prune by path") {
    val table = TableDefinition(
      TableName("cdb", "part"),
      Files.createTempDirectory("graft_cat_part").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)

    Seq(CatEvent(1, "a", "2024-01-01"), CatEvent(2, "b", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    Seq(CatEvent(3, "c", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))

    // current state: 01-01 from v1, 01-02 replaced by v2
    spark.sql("SELECT id FROM graftcat.cdb.part ORDER BY id")
      .as[Long].collect() shouldBe Array(1L, 3L)
    // partition-column filter works through the catalog read
    spark.sql("SELECT id FROM graftcat.cdb.part WHERE date = '2024-01-01'")
      .as[Long].collect() shouldBe Array(1L)
  }

  test("ORC snapshot table resolves through the catalog too") {
    val table = TableDefinition(
      TableName("cdb", "snap_orc"),
      Files.createTempDirectory("graft_cat_orc").toUri,
      PartitionSchema.snapshot, FileFormat.Orc)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)
    Seq(CatRow(7, "orc")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    spark.sql("SELECT id, label FROM graftcat.cdb.snap_orc")
      .as[CatRow].collect() shouldBe Array(CatRow(7, "orc"))
  }

  test("INSERT INTO appends copy-on-write as a new version; INSERT OVERWRITE replaces") {
    val table = TableDefinition(
      TableName("cdb", "dml_part"),
      Files.createTempDirectory("graft_cat_dml").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    // a never-written table has no files to infer from: register its schema
    GraftTableCatalog.register("graftcat", table, Some(new org.apache.spark.sql.types.StructType()
      .add("id", "long", nullable = false).add("label", "string").add("date", "string")))

    // first SQL insert into the empty table
    spark.sql("INSERT INTO graftcat.cdb.dml_part VALUES (1, 'a', '2024-01-01'), (2, 'b', '2024-01-02')")
    spark.sql("SELECT id FROM graftcat.cdb.dml_part ORDER BY id")
      .as[Long].collect() shouldBe Array(1L, 2L)

    // append touching only 01-02: its fresh version must carry old + new,
    // 01-01 keeps its version untouched
    val beforeAppend = log.currentVersion(table.name).asInstanceOf[PartitionedTableVersion]
    spark.sql("INSERT INTO graftcat.cdb.dml_part VALUES (3, 'c', '2024-01-02')")
    spark.sql("SELECT id FROM graftcat.cdb.dml_part ORDER BY id")
      .as[Long].collect() shouldBe Array(1L, 2L, 3L)
    val afterAppend = log.currentVersion(table.name).asInstanceOf[PartitionedTableVersion]
    val p1 = Partition(ColumnValue(PartitionColumn("date"), "2024-01-01"))
    val p2 = Partition(ColumnValue(PartitionColumn("date"), "2024-01-02"))
    afterAppend.partitionVersions(p1) shouldBe beforeAppend.partitionVersions(p1)
    afterAppend.partitionVersions(p2) should not be beforeAppend.partitionVersions(p2)

    // overwrite = standard SQL static semantics: the WHOLE table is
    // replaced — the untouched 01-01 partition is pruned too
    spark.sql("INSERT OVERWRITE graftcat.cdb.dml_part VALUES (9, 'z', '2024-01-02')")
    spark.sql("SELECT id FROM graftcat.cdb.dml_part ORDER BY id")
      .as[Long].collect() shouldBe Array(9L)

    // every DML effect is ONE commit — all time-travelable; the static
    // overwrite's prune of untouched partitions rides the same atomic
    // commit (write ops + RemovePartition ops together, no transient
    // merged state between a write and a follow-up prune)
    log.updates(table.name) should have size 4
    val overwriteOps = log.currentVersion(table.name)
    overwriteOps.asInstanceOf[PartitionedTableVersion].partitionVersions.keySet shouldBe Set(p2)
    val appendCommit = log.updates(table.name)(1).id
    spark.sql(
      s"SELECT id FROM graftcat.cdb.dml_part VERSION AS OF '${appendCommit.id}' ORDER BY id")
      .as[Long].collect() shouldBe Array(1L, 2L, 3L)
  }

  test("INSERT INTO a never-written table registered without a schema names the cause and both remedies") {
    // the location does not exist yet: nothing has been written (own
    // namespace: SHOW TABLES IN cdb below pins that namespace's listing)
    val table = TableDefinition(
      TableName("nsdb", "no_schema"),
      Files.createTempDirectory("graft_cat_noschema").resolve("t").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)
    val insert = "INSERT INTO graftcat.nsdb.no_schema VALUES (1, 'a', '2024-01-01')"

    val e = intercept[IllegalStateException](spark.sql(insert))
    e.getMessage should include("nsdb.no_schema has no schema")
    e.getMessage should include("registered without one")
    e.getMessage should include("Register it with a schema")
    e.getMessage should include("versionedInsertInto")
    log.updates(table.name) should have size 1 // analysis failed: nothing committed

    // remedy 1: register the schema — the same INSERT now commits
    GraftTableCatalog.register("graftcat", table, Some(new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("label", "string").add("date", "string")))
    spark.sql(insert)
    spark.sql("SELECT id FROM graftcat.nsdb.no_schema").as[Long].collect() shouldBe Array(1L)

    // remedy 2: one Scala-API write gives a schema-less registration files
    // to infer from
    val table2 = table.copy(
      name = TableName("nsdb", "no_schema2"),
      location = Files.createTempDirectory("graft_cat_noschema2").resolve("t").toUri)
    ctx.init(table2, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table2)
    intercept[IllegalStateException](
      spark.sql("INSERT INTO graftcat.nsdb.no_schema2 VALUES (2, 'b', '2024-01-02')"))
    Seq(CatEvent(1, "a", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, table2, user, UpdateMessage("first write"))
    // the written `date` dirs now infer as DATE on load
    spark.sql("INSERT INTO graftcat.nsdb.no_schema2 VALUES (2, 'b', DATE'2024-01-02')")
    spark.sql("SELECT id FROM graftcat.nsdb.no_schema2 ORDER BY id")
      .as[Long].collect() shouldBe Array(1L, 2L)
  }

  test("snapshot SQL DML: INSERT INTO unions with current, OVERWRITE replaces") {
    val table = TableDefinition(
      TableName("cdb", "dml_snap"),
      Files.createTempDirectory("graft_cat_dml_snap").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table, Some(new org.apache.spark.sql.types.StructType()
      .add("id", "long", nullable = false).add("label", "string")))

    spark.sql("INSERT INTO graftcat.cdb.dml_snap VALUES (1, 'a')")
    spark.sql("INSERT INTO graftcat.cdb.dml_snap VALUES (2, 'b')")
    spark.sql("SELECT id FROM graftcat.cdb.dml_snap ORDER BY id")
      .as[Long].collect() shouldBe Array(1L, 2L)
    spark.sql("INSERT OVERWRITE graftcat.cdb.dml_snap VALUES (5, 'e')")
    spark.sql("SELECT id, label FROM graftcat.cdb.dml_snap")
      .as[CatRow].collect() shouldBe Array(CatRow(5, "e"))
  }

  test("SQL joins across catalog tables and the read-only contract") {
    spark.sql(
      """SELECT s.label, p.label FROM graftcat.cdb.snap s
        |JOIN graftcat.cdb.part p ON s.id = p.id""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))) shouldBe Array(("v2a", "c"))

    // round 18: SET TBLPROPERTIES is supported (TableProperties) — it
    // stores and serves; unrelated ALTERs still refuse
    spark.sql("ALTER TABLE graftcat.cdb.snap SET TBLPROPERTIES ('a'='b')").collect()
    spark.sql("SHOW TBLPROPERTIES graftcat.cdb.snap").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap.get("a") shouldBe Some("b")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graftcat.cdb.snap RECOVER PARTITIONS").collect())
    e.getMessage should (include("RECOVER") or include("not supported") or include("ALTER"))
    spark.sql("SHOW TABLES IN graftcat.cdb").collect()
      .map(_.getString(1)).sorted shouldBe
      Array("dml_part", "dml_snap", "part", "snap", "snap_orc")
  }

  test("ordinal VERSION AS OF addresses DESCRIBE HISTORY's commit_index; TRUNCATE is a metadata commit") {
    val table = TableDefinition(
      TableName("cdb", "ord_trunc"),
      Files.createTempDirectory("graft_cat_ord").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)
    Seq(CatEvent(1, "a", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    Seq(CatEvent(2, "b", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))

    // commit_index 2 = the first write (init is 1) — readable straight off
    // DESCRIBE HISTORY, matching its coordinate exactly
    val hist = spark.sql("DESCRIBE HISTORY graftcat.cdb.ord_trunc").collect()
    val idxOfV1 = hist.find(_.getString(4) == "v1").get.getInt(0)
    spark.sql(
      s"SELECT count(*) FROM graftcat.cdb.ord_trunc VERSION AS OF '$idxOfV1'")
      .head().getLong(0) shouldBe 1L
    // out-of-range ordinal refuses loudly
    val bad = intercept[Exception](
      spark.sql("SELECT * FROM graftcat.cdb.ord_trunc VERSION AS OF '99'").collect())
    bad.getMessage should include("commit index 99")
    // a ref literally named like a number wins over the ordinal reading
    log.setRef(table.name, "2", log.currentCommit(table.name), isTag = true)
    spark.sql("SELECT count(*) FROM graftcat.cdb.ord_trunc VERSION AS OF '2'")
      .head().getLong(0) shouldBe 2L
    log.deleteRef(table.name, "2")

    // TRUNCATE: rows gone, history intact, pre-truncate state addressable
    val pre = log.currentCommit(table.name)
    spark.sql("TRUNCATE TABLE graftcat.cdb.ord_trunc")
    spark.sql("SELECT count(*) FROM graftcat.cdb.ord_trunc").head().getLong(0) shouldBe 0L
    spark.sql(
      s"SELECT count(*) FROM graftcat.cdb.ord_trunc VERSION AS OF '${pre.id}'")
      .head().getLong(0) shouldBe 2L

    // snapshot twin: TRUNCATE points back at the Unversioned (empty) state
    val snap = TableDefinition(
      TableName("cdb", "trunc_snap"),
      Files.createTempDirectory("graft_cat_tsnap").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(snap, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", snap)
    Seq(CatRow(1, "x")).toDS()
      .versionedInsertInto(ctx, snap, user, UpdateMessage("v1"))
    spark.sql("TRUNCATE TABLE graftcat.cdb.trunc_snap")
    spark.sql("SELECT count(*) FROM graftcat.cdb.trunc_snap").head().getLong(0) shouldBe 0L
    // and writes after a truncate start a fresh state
    Seq(CatRow(9, "y")).toDS()
      .versionedInsertInto(ctx, snap, user, UpdateMessage("v2"))
    spark.sql("SELECT id FROM graftcat.cdb.trunc_snap")
      .collect().map(_.getLong(0)) shouldBe Array(9L)
  }

  test("DELETE FROM removes whole partitions as a time-travelable commit") {
    val table = TableDefinition(
      TableName("cdb", "del_part"),
      Files.createTempDirectory("graft_cat_del").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)
    Seq(
      CatEvent(1, "a", "2024-01-01"),
      CatEvent(2, "b", "2024-01-02"),
      CatEvent(3, "c", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val beforeDelete = log.updates(table.name).head.id

    spark.sql("DELETE FROM graftcat.cdb.del_part WHERE date = '2024-01-02'")
    spark.sql("SELECT id FROM graftcat.cdb.del_part")
      .as[Long].collect() shouldBe Array(1L)
    // the delete is a commit: history grew, and time travel resurrects
    log.updates(table.name).head.message.content shouldBe "DELETE (SQL)"
    spark.sql(
      s"SELECT id FROM graftcat.cdb.del_part VERSION AS OF '${beforeDelete.id}' ORDER BY id")
      .as[Long].collect() shouldBe Array(1L, 2L, 3L)

    // row-level predicates execute copy-on-write (GraftDmlRule): deleting
    // the last row empties its partition, which is then pruned
    spark.sql("DELETE FROM graftcat.cdb.del_part WHERE id = 1")
    spark.sql("SELECT * FROM graftcat.cdb.del_part").count() shouldBe 0

    // unconditional DELETE removes every partition (AlwaysTrue filter);
    // on the now-empty table it is a clean no-op
    spark.sql("DELETE FROM graftcat.cdb.del_part")
    spark.sql("SELECT * FROM graftcat.cdb.del_part").count() shouldBe 0
  }

  test("SHOW PARTITIONS lists the current version's partition set from the commit log") {
    val table = TableDefinition(
      TableName("cdb", "showparts"),
      Files.createTempDirectory("graft_cat_showparts").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)
    Seq(
      CatEvent(1, "a", "2024-01-01"), CatEvent(2, "b", "2024-01-02"),
      CatEvent(3, "c", "2024-01-03"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    spark.sql("SHOW PARTITIONS graftcat.cdb.showparts")
      .collect().map(_.getString(0)).sorted shouldBe
      Array("date=2024-01-01", "date=2024-01-02", "date=2024-01-03")

    spark.sql("SHOW PARTITIONS graftcat.cdb.showparts PARTITION (date = '2024-01-02')")
      .collect().map(_.getString(0)) shouldBe Array("date=2024-01-02")

    // a DELETE commit is reflected immediately — the listing is log-resolved
    spark.sql("DELETE FROM graftcat.cdb.showparts WHERE date = '2024-01-01'")
    spark.sql("SHOW PARTITIONS graftcat.cdb.showparts")
      .collect().map(_.getString(0)).sorted shouldBe
      Array("date=2024-01-02", "date=2024-01-03")

    // partition DDL mutators stay rejected — writes own partition lifecycle
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE graftcat.cdb.showparts ADD PARTITION (date = '2024-02-01')"))
    e.getMessage.toLowerCase should include("partition")
  }

  test("pure-conf binding: spark.sql.catalog.<name>.logDir wires the durable JSON log") {
    val logDir = Files.createTempDirectory("graft_cat_confbind")
    spark.conf.set("spark.sql.catalog.graftconf", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftconf.logDir", logDir.toString)
    val loc = Files.createTempDirectory("graft_cat_confbind_t").toUri
    spark.sql(
      s"CREATE TABLE graftconf.db.conft (id BIGINT, label STRING) USING parquet LOCATION '$loc'")
    spark.sql("INSERT INTO graftconf.db.conft VALUES (1, 'a'), (2, 'b')")
    spark.sql("SELECT count(*) FROM graftconf.db.conft").head().getLong(0) shouldBe 2L
    // the commit history reached the conf'd directory durably
    import scala.jdk.CollectionConverters._
    Files.list(logDir).iterator().asScala.map(_.getFileName.toString).toList should
      contain("db.conft.jsonl")
  }

  test("maintenance SQL works against a pure-conf (logDir) catalog") {
    val logDir = Files.createTempDirectory("graft_cat_confmaint")
    spark.conf.set("spark.sql.catalog.graftcm", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcm.logDir", logDir.toString)
    val loc = Files.createTempDirectory("graft_cat_confmaint_t").toUri
    spark.sql(
      s"CREATE TABLE graftcm.db.cmt (id BIGINT, label STRING) USING parquet LOCATION '$loc'")
    spark.sql("INSERT INTO graftcm.db.cmt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("INSERT INTO graftcm.db.cmt VALUES (4, 'd')")

    // OPTIMIZE resolves the binding the conf created (execution-time
    // catalog initialization inside GraftMaintenanceSql.resolve)
    spark.sql("OPTIMIZE graftcm.db.cmt").collect()
    spark.sql("SELECT count(*) FROM graftcm.db.cmt").head.getLong(0) shouldBe 4L

    // DESCRIBE HISTORY's parse-time guard accepts the conf-declared
    // catalog and lists the durable log newest-first
    val hist = spark.sql("DESCRIBE HISTORY graftcm.db.cmt").collect()
    hist.length should be >= 4 // create + 2 inserts + optimize
    hist.head.getString(4) should include("OPTIMIZE")

    // VACUUM reclaims the pre-optimize version dirs from the conf'd log
    val vac = spark.sql("VACUUM graftcm.db.cmt RETAIN 1 COMMITS GRACE 0 MINUTES").collect()
    vac.head.getInt(1) should be > 0
    spark.sql("SELECT count(*) FROM graftcm.db.cmt").head.getLong(0) shouldBe 4L
  }

  test("CREATE TABLE AS SELECT lands as one versioned commit, snapshot and partitioned") {
    val loc1 = Files.createTempDirectory("graft_cat_ctas_snap").toUri
    spark.sql(
      s"CREATE TABLE graftcat.cdb.ctas_snap USING parquet LOCATION '$loc1' " +
        "AS SELECT id, id % 3 AS k FROM range(10)")
    spark.sql("SELECT count(*) FROM graftcat.cdb.ctas_snap").head().getLong(0) shouldBe 10
    log.updates(TableName("cdb", "ctas_snap")).map(_.message.content) shouldBe
      List("INSERT INTO (SQL)", "CREATE TABLE (SQL)")

    val loc2 = Files.createTempDirectory("graft_cat_ctas_part").toUri
    spark.sql(
      s"CREATE TABLE graftcat.cdb.ctas_part USING parquet PARTITIONED BY (k) " +
        s"LOCATION '$loc2' AS SELECT id, CAST(id % 3 AS STRING) AS k FROM range(10)")
    spark.sql("SELECT count(*) FROM graftcat.cdb.ctas_part WHERE k = '1'")
      .head().getLong(0) shouldBe 3
    log.currentVersion(TableName("cdb", "ctas_part")) match {
      case PartitionedTableVersion(pvs) => pvs should have size 3
      case other                        => fail(s"unexpected $other")
    }
    spark.sql("DROP TABLE graftcat.cdb.ctas_snap")
    spark.sql("DROP TABLE graftcat.cdb.ctas_part")
  }

  test("full SQL lifecycle: CREATE TABLE, INSERT, SELECT, DROP leaves data + history") {
    val loc = Files.createTempDirectory("graft_cat_create").toUri.toString
    spark.sql(
      s"""CREATE TABLE graftcat.cdb.sqlmade (id BIGINT, label STRING, date STRING)
         |USING parquet PARTITIONED BY (date) LOCATION '$loc'""".stripMargin)

    spark.sql("INSERT INTO graftcat.cdb.sqlmade VALUES (1, 'a', '2024-01-01'), (2, 'b', '2024-01-02')")
    spark.sql("SELECT id FROM graftcat.cdb.sqlmade ORDER BY id")
      .as[Long].collect() shouldBe Array(1L, 2L)

    // the SQL-created table is a first-class versioned table in the log
    val name = TableName("cdb", "sqlmade")
    log.updates(name).map(_.message.content) shouldBe
      List("INSERT INTO (SQL)", "CREATE TABLE (SQL)")

    // DROP = external semantics: catalog forgets, data + history survive
    spark.sql("DROP TABLE graftcat.cdb.sqlmade")
    spark.sql("SHOW TABLES IN graftcat.cdb").collect()
      .map(_.getString(1)) should not contain "sqlmade"
    log.updates(name) should have size 2
    log.currentVersion(name) match {
      case PartitionedTableVersion(pvs) => pvs should have size 2
      case other                        => fail(s"unexpected $other")
    }

    // re-CREATE with a conflicting shape must not silently adopt the
    // surviving partitioned history as a "fresh" snapshot table
    val loc2 = Files.createTempDirectory("graft_cat_create2").toUri.toString
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE graftcat.cdb.sqlmade (id BIGINT, label STRING, date STRING) " +
        s"USING parquet LOCATION '$loc2'"))
    e.getMessage should include("commit history")
    // matching shape re-adopts the history cleanly (same-shape re-create)
    spark.sql(
      s"""CREATE TABLE graftcat.cdb.sqlmade (id BIGINT, label STRING, date STRING)
         |USING parquet PARTITIONED BY (date) LOCATION '$loc'""".stripMargin)
    spark.sql("SELECT id FROM graftcat.cdb.sqlmade ORDER BY id")
      .as[Long].collect() shouldBe Array(1L, 2L)
    spark.sql("DROP TABLE graftcat.cdb.sqlmade")
  }

  test("SQL MERGE INTO upserts copy-on-write; untouched partitions keep their version; time travel sees pre-merge") {
    val table = TableDefinition(
      TableName("cdb", "mergesql"),
      Files.createTempDirectory("graft_cat_mergesql").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)

    Seq(
      CatEvent(1, "old", "2024-01-01"), CatEvent(2, "old", "2024-01-02"),
      CatEvent(3, "old", "2024-01-02"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1Commit = log.updates(table.name).head.id
    val v1Versions = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }

    Seq(CatEvent(3, "new", "2024-01-02"), CatEvent(4, "new", "2024-01-02"))
      .toDF().createOrReplaceTempView("merge_src")
    spark.sql(
      """MERGE INTO graftcat.cdb.mergesql t USING merge_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    spark.sql("SELECT id, label, date FROM graftcat.cdb.mergesql ORDER BY id")
      .as[CatEvent].collect() shouldBe Array(
      CatEvent(1, "old", "2024-01-01"), CatEvent(2, "old", "2024-01-02"),
      CatEvent(3, "new", "2024-01-02"), CatEvent(4, "new", "2024-01-02"))

    // copy-on-write at partition granularity: only 2024-01-02 re-versioned
    val after = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }
    val day1 = Partition(ColumnValue(PartitionColumn("date"), "2024-01-01"))
    val day2 = Partition(ColumnValue(PartitionColumn("date"), "2024-01-02"))
    after(day1) shouldBe v1Versions(day1)
    after(day2) should not be v1Versions(day2)
    log.updates(table.name).head.message.content shouldBe "MERGE (SQL)"

    // pre-merge state still readable at the v1 commit
    spark.sql(
      s"SELECT id, label, date FROM graftcat.cdb.mergesql VERSION AS OF '${v1Commit.id}' ORDER BY id")
      .as[CatEvent].collect() shouldBe Array(
      CatEvent(1, "old", "2024-01-01"), CatEvent(2, "old", "2024-01-02"),
      CatEvent(3, "old", "2024-01-02"))

    // non-star shapes route through the CONDITIONAL clause engine now
    // (see the dedicated conditional-merge test); genuinely unsupported
    // shapes still reject loudly: an UPDATE of a partition column
    val e = intercept[Exception](spark.sql(
      """MERGE INTO graftcat.cdb.mergesql t USING merge_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET date = s.date, label = s.label""".stripMargin))
    e.getMessage should include("partition column")
  }

  test("SQL conditional MERGE: clause conditions, partial SET, DELETE, NOT MATCHED BY SOURCE") {
    val table = TableDefinition(
      TableName("cdb", "condmerge"),
      Files.createTempDirectory("graft_cat_condmerge").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)

    Seq(
      CatEvent(1, "old", "2024-01-01"), CatEvent(2, "old", "2024-01-02"),
      CatEvent(3, "old", "2024-01-02"), CatEvent(5, "stale", "2024-01-03"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1Commit = log.updates(table.name).head.id
    val v1Versions = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }

    Seq(
      CatEvent(2, "upd", "2024-01-02"), CatEvent(3, "del", "2024-01-02"),
      CatEvent(4, "ins", "2024-01-02"), CatEvent(9, "skipme", "2024-01-04"))
      .toDF().createOrReplaceTempView("cond_src")
    spark.sql(
      """MERGE INTO graftcat.cdb.condmerge t USING cond_src s ON t.id = s.id
        |WHEN MATCHED AND s.label = 'del' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET label = concat(s.label, '!')
        |WHEN NOT MATCHED AND s.label = 'ins' THEN INSERT (id, label, date) VALUES (s.id, s.label, s.date)
        |WHEN NOT MATCHED BY SOURCE AND t.label = 'stale' THEN DELETE""".stripMargin)

    // first matching clause wins: 3 deleted (not updated); 2 updated with a
    // PARTIAL SET (id/date carried); 4 inserted by its conditional clause;
    // 9's insert condition is false → skipped; 1 carries; 5 NMBS-deleted
    spark.sql("SELECT id, label, date FROM graftcat.cdb.condmerge ORDER BY id")
      .as[CatEvent].collect() shouldBe Array(
      CatEvent(1, "old", "2024-01-01"), CatEvent(2, "upd!", "2024-01-02"),
      CatEvent(4, "ins", "2024-01-02"))

    val after = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }
    val day1 = Partition(ColumnValue(PartitionColumn("date"), "2024-01-01"))
    val day2 = Partition(ColumnValue(PartitionColumn("date"), "2024-01-02"))
    val day3 = Partition(ColumnValue(PartitionColumn("date"), "2024-01-03"))
    // NMBS scopes the scan to the whole table, but only AFFECTED partitions
    // rewrite: day1 held only carried rows — pointer untouched
    after(day1) shouldBe v1Versions(day1)
    after(day2) should not be v1Versions(day2)
    // day3 was fully NMBS-deleted: pruned from the partition map entirely
    after.get(day3) shouldBe None

    // pre-merge state still readable at the v1 commit (delete included)
    spark.sql(
      s"SELECT id, label, date FROM graftcat.cdb.condmerge VERSION AS OF '${v1Commit.id}' ORDER BY id")
      .as[CatEvent].collect().map(_.id) shouldBe Array(1L, 2L, 3L, 5L)

    // duplicate source keys are ambiguous under UPDATE → reject at runtime
    Seq(CatEvent(2, "a", "2024-01-02"), CatEvent(2, "b", "2024-01-02"))
      .toDF().createOrReplaceTempView("dup_src")
    val dup = intercept[Exception](spark.sql(
      """MERGE INTO graftcat.cdb.condmerge t USING dup_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET label = s.label""".stripMargin))
    dup.getMessage should include("duplicate key")

    // subqueries in clause conditions stay rejected
    val sub = intercept[Exception](spark.sql(
      """MERGE INTO graftcat.cdb.condmerge t USING cond_src s ON t.id = s.id
        |WHEN MATCHED AND s.id IN (SELECT id FROM cond_src) THEN DELETE""".stripMargin))
    sub.getMessage should include("subquery")
  }

  test("SQL conditional MERGE: insert-if-absent, no-op replay, matched-only refinement") {
    val table = TableDefinition(
      TableName("cdb", "condmerge2"),
      Files.createTempDirectory("graft_cat_condmerge2").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)
    Seq(CatRow(1, "a")).toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    Seq(CatRow(1, "a"), CatRow(2, "b")).toDF().createOrReplaceTempView("seed_src")
    // insert-if-absent: a lone NOT MATCHED clause (the old star-only rule
    // rejected it; the clause engine runs it honestly — matched rows carry)
    spark.sql(
      """MERGE INTO graftcat.cdb.condmerge2 t USING seed_src s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("SELECT id, label FROM graftcat.cdb.condmerge2 ORDER BY id")
      .as[CatRow].collect() shouldBe Array(CatRow(1, "a"), CatRow(2, "b"))

    // replay the same merge: every key now matches, no clause fires for
    // matched rows → NO new commit (a no-op must not pollute history)
    val commits = log.updates(table.name).size
    spark.sql(
      """MERGE INTO graftcat.cdb.condmerge2 t USING seed_src s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    log.updates(table.name).size shouldBe commits

    // matched-only conditional update on the snapshot table
    spark.sql(
      """MERGE INTO graftcat.cdb.condmerge2 t USING seed_src s ON t.id = s.id
        |WHEN MATCHED AND s.id = 2 THEN UPDATE SET label = upper(s.label)""".stripMargin)
    spark.sql("SELECT id, label FROM graftcat.cdb.condmerge2 ORDER BY id")
      .as[CatRow].collect() shouldBe Array(CatRow(1, "a"), CatRow(2, "B"))
  }

  test("ALTER TABLE ADD COLUMN widens the schema; pre-ALTER versions read NULLs") {
    val loc = Files.createTempDirectory("graft_cat_alter").toUri.toString
    spark.sql(
      s"""CREATE TABLE graftcat.cdb.altc (id BIGINT, label STRING, date STRING)
         |USING parquet PARTITIONED BY (date) LOCATION '$loc'""".stripMargin)
    spark.sql("INSERT INTO graftcat.cdb.altc VALUES (1, 'a', '2024-01-01'), (2, 'b', '2024-01-02')")
    val v1Commit = log.updates(TableName("cdb", "altc")).head.id

    spark.sql("ALTER TABLE graftcat.cdb.altc ADD COLUMN score DOUBLE")
    // evolution is auditable history, not a version change
    log.updates(TableName("cdb", "altc")).head.message.content should include("ALTER TABLE ADD COLUMNS")

    // old rows surface the new column as NULL
    spark.sql("SELECT id, score FROM graftcat.cdb.altc ORDER BY id")
      .as[(Long, Option[Double])].collect() shouldBe Array((1L, None), (2L, None))

    // new writes carry the column; mixed reads keep NULLs for old files
    // (explicit column list: the file table surfaces partition columns
    // LAST, so the post-ALTER positional order is id, label, score, date)
    spark.sql(
      "INSERT INTO graftcat.cdb.altc (id, label, date, score) VALUES (3, 'c', '2024-01-03', 9.5)")
    spark.sql("SELECT id, score FROM graftcat.cdb.altc ORDER BY id")
      .as[(Long, Option[Double])].collect() shouldBe
      Array((1L, None), (2L, None), (3L, Some(9.5)))

    // time travel to the pre-ALTER commit still projects the widened
    // schema — with NULLs, the additive-evolution read contract
    spark.sql(
      s"SELECT id, score FROM graftcat.cdb.altc VERSION AS OF '${v1Commit.id}' ORDER BY id")
      .as[(Long, Option[Double])].collect() shouldBe Array((1L, None), (2L, None))

    val dup = intercept[Exception](
      spark.sql("ALTER TABLE graftcat.cdb.altc ADD COLUMN label STRING"))
    dup.getMessage should include("already exists")
    // positioned adds reject rather than silently appending at the end —
    // accepting FIRST/AFTER but placing the column elsewhere would
    // misalign positional INSERTs against the declared layout
    val pos = intercept[Exception](
      spark.sql("ALTER TABLE graftcat.cdb.altc ADD COLUMN early STRING FIRST"))
    pos.getMessage should include("FIRST/AFTER")
    // column COMMENTs land as audited sidecar metadata (round 20)
    spark.sql("ALTER TABLE graftcat.cdb.altc ALTER COLUMN label COMMENT 'x'")
    log.updates(TableName("cdb", "altc")).head.message.content should
      include("ALTER COLUMN label COMMENT 'x'")
    // unsupported table changes still reject loudly
    val tpe = intercept[Exception](
      spark.sql("ALTER TABLE graftcat.cdb.altc CLUSTER BY (id)"))
    tpe.getMessage should include("ClusterBy")
    spark.sql("ALTER TABLE graftcat.cdb.altc DROP COLUMN label")
    spark.sql("SELECT * FROM graftcat.cdb.altc").columns should not contain "label"
    spark.sql("DROP TABLE graftcat.cdb.altc")
  }

  test("ALTER COLUMN FIRST/AFTER reorders the declared schema metadata-only; order time-travels") {
    val loc = Files.createTempDirectory("graft_cat_reorder").toUri.toString
    spark.sql(
      s"""CREATE TABLE graftcat.cdb.reord (id BIGINT, label STRING, score DOUBLE, date STRING)
         |USING parquet PARTITIONED BY (date) LOCATION '$loc'""".stripMargin)
    spark.sql(
      "INSERT INTO graftcat.cdb.reord VALUES (1, 'a', 1.5, '2024-01-01'), (2, 'b', 2.5, '2024-01-02')")
    val tn = TableName("cdb", "reord")
    val v1 = log.updates(tn).head.id
    val v1Files = spark.table("graftcat.cdb.reord").inputFiles.toSet

    spark.sql("ALTER TABLE graftcat.cdb.reord ALTER COLUMN score FIRST")
    spark.sql("SELECT * FROM graftcat.cdb.reord").columns.toSeq shouldBe
      Seq("score", "id", "label", "date")
    // metadata-only: no file rewritten, and the change is auditable history
    v1Files.subsetOf(spark.table("graftcat.cdb.reord").inputFiles.toSet) shouldBe true
    log.updates(tn).head.message.content should include("ALTER COLUMN score FIRST")

    spark.sql("ALTER TABLE graftcat.cdb.reord ALTER COLUMN score AFTER id")
    spark.sql("SELECT * FROM graftcat.cdb.reord").columns.toSeq shouldBe
      Seq("id", "score", "label", "date")

    // positional INSERT follows the NEW declaration — which is what the
    // reorder requests (the ADD ... FIRST refusal above guards the
    // opposite case: silently placing a column elsewhere)
    spark.sql("INSERT INTO graftcat.cdb.reord VALUES (3, 9.5, 'c', '2024-01-03')")
    spark.sql("SELECT id, label, score FROM graftcat.cdb.reord WHERE id = 3")
      .as[(Long, String, Double)].collect() shouldBe Array((3L, "c", 9.5))

    // TIME TRAVEL declares the addressed commit's order (the SQL surface:
    // reorder states anchor in SchemaStates, unlike rename shape travel)
    spark.sql(s"SELECT * FROM graftcat.cdb.reord VERSION AS OF '${v1.id}'")
      .columns.toSeq shouldBe Seq("id", "label", "score", "date")

    // SHOW CREATE TABLE replays the CURRENT order; VERSION AS OF replays
    // the ADDRESSED commit's order (the audit posture)
    val ddlNow = spark.sql("SHOW CREATE TABLE graftcat.cdb.reord")
      .head().getString(0)
    ddlNow.indexOf("score") should be < ddlNow.indexOf("label")
    val ddlV1 = spark.sql(
      s"SHOW CREATE TABLE graftcat.cdb.reord VERSION AS OF '${v1.id}'")
      .head().getString(0)
    ddlV1.indexOf("label") should be < ddlV1.indexOf("score")

    // refusals: partition columns render at the end; nested fields keep
    // their struct's declaration; a missing AFTER anchor names itself
    intercept[Exception](spark.sql(
      "ALTER TABLE graftcat.cdb.reord ALTER COLUMN date FIRST"))
      .getMessage should include("partition column")
    intercept[Exception](spark.sql(
      "ALTER TABLE graftcat.cdb.reord ALTER COLUMN id AFTER date"))
      .getMessage should include("partition column")
    intercept[Exception](spark.sql(
      "ALTER TABLE graftcat.cdb.reord ALTER COLUMN id AFTER nope"))
      .getMessage should include("nope")
    spark.sql("DROP TABLE graftcat.cdb.reord")
  }

  test("reorder composes: order travel survives a top-level ADD; a rename falls back to declared order") {
    val loc = Files.createTempDirectory("graft_cat_reord2").toUri.toString
    spark.sql(
      s"""CREATE TABLE graftcat.cdb.reord2 (id BIGINT, label STRING, score DOUBLE, date STRING)
         |USING parquet PARTITIONED BY (date) LOCATION '$loc'""".stripMargin)
    spark.sql("INSERT INTO graftcat.cdb.reord2 VALUES (1, 'a', 1.5, '2024-01-01')")
    val tn = TableName("cdb", "reord2")
    spark.sql("ALTER TABLE graftcat.cdb.reord2 ALTER COLUMN score FIRST")
    val vReorder = log.updates(tn).head.id

    // a LATER top-level ADD keeps order travel intact: the addressed
    // state's order governs, the post-state column appends at the end
    // (projected as typed NULL — the q62 additive contract)
    spark.sql("ALTER TABLE graftcat.cdb.reord2 ADD COLUMN note STRING")
    spark.sql(s"SELECT * FROM graftcat.cdb.reord2 VERSION AS OF '${vReorder.id}'")
      .columns.toSeq shouldBe Seq("score", "id", "label", "note", "date")

    // a LATER rename breaks the state's name resolution: travel
    // conservatively falls back to the CURRENT declared order (names on
    // the SQL surface are always the current logical ones — the
    // long-standing rename-travel discipline)
    spark.sql("ALTER TABLE graftcat.cdb.reord2 RENAME COLUMN label TO tag")
    val traveled = spark.sql(
      s"SELECT * FROM graftcat.cdb.reord2 VERSION AS OF '${vReorder.id}'")
      .columns.toSeq
    traveled should contain("tag")
    traveled.head shouldBe "score" // current declared order leads with score
    spark.sql("DROP TABLE graftcat.cdb.reord2")
  }

  test("SQL maintenance: OPTIMIZE bin-packs, OPTIMIZE ZORDER clusters, VACUUM reclaims — each as SQL text") {
    val table = TableDefinition(
      TableName("cdb", "maint"),
      Files.createTempDirectory("graft_cat_maint").toUri,
      PartitionSchema(List(PartitionColumn("label"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)
    val rows = (1L to 40L).map(i => CatRow(i, if (i % 2 == 0) "even" else "odd"))
    rows.toDS().repartition(8) // fragment: up to 8 files per partition dir
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: fragmented"))

    def filesPerPartition: Map[String, Int] = {
      val root = java.nio.file.Paths.get(table.location)
      import scala.jdk.CollectionConverters._
      log.currentVersion(table.name) match {
        case PartitionedTableVersion(pvs) => pvs.map { case (p, v) =>
          val dir = root.resolve(
            SparkPaths.escapedPartitionPath(p)).resolve(v.label)
          p.toString -> Files.list(dir).iterator.asScala
            .count(_.toString.endsWith(".parquet"))
        }
        case other => fail(s"unexpected $other")
      }
    }
    filesPerPartition.values.max should be > 1 // genuinely fragmented

    // OPTIMIZE: one commit, one file per partition, rows unchanged
    val opt = spark.sql("OPTIMIZE graftcat.cdb.maint").collect()
    opt.map(_.getString(0)) shouldBe Array("OPTIMIZE")
    filesPerPartition.values.toSet shouldBe Set(1)
    spark.sql("SELECT count(*) FROM graftcat.cdb.maint").head.getLong(0) shouldBe 40L

    // OPTIMIZE ZORDER BY: another time-travelable commit, rows unchanged
    spark.sql("OPTIMIZE graftcat.cdb.maint ZORDER BY (id)").collect()
    spark.sql("SELECT sum(id) FROM graftcat.cdb.maint").head.getLong(0) shouldBe 820L
    log.updates(table.name).head.message.content should include("ZORDER")

    // OPTIMIZE ... WHERE: partition-scoped — only the named partition's
    // pointer moves, the other keeps its version
    val beforeScoped = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }
    // re-fragment just the 'even' partition so the scoped rewrite has work
    rows.filter(_.label == "even").toDS().repartition(8)
      .versionedInsertInto(ctx, table, user, UpdateMessage("refragment even"))
    spark.sql("OPTIMIZE graftcat.cdb.maint WHERE label = 'even'").collect()
    val afterScoped = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }
    val odd = Partition(ColumnValue(PartitionColumn("label"), "odd"))
    afterScoped(odd) shouldBe beforeScoped(odd) // untouched partition pinned
    filesPerPartition("label=even") shouldBe 1
    spark.sql("SELECT count(*) FROM graftcat.cdb.maint").head.getLong(0) shouldBe 40L
    // a no-match predicate is a no-op: no commit lands
    val headBefore = log.updates(table.name).head.id
    spark.sql("OPTIMIZE graftcat.cdb.maint WHERE label = 'nope'").collect()
    log.updates(table.name).head.id shouldBe headBefore
    // non-partition columns refuse loudly
    intercept[Exception](
      spark.sql("OPTIMIZE graftcat.cdb.maint WHERE id = '3'").collect())
      .getMessage should include("partition columns only")

    // VACUUM RETAIN n HOURS (wall-clock retention, the Delta spelling):
    // every commit here was recorded seconds ago, so a 1000-hour window
    // retains them all — nothing is reclaimed even at zero grace
    val vacHours = spark.sql(
      "VACUUM graftcat.cdb.maint RETAIN 1000 HOURS GRACE 0 MINUTES").collect()
    vacHours.head.getInt(0) should be > 0 // examined the version dirs
    vacHours.head.getInt(1) shouldBe 0    // all states inside the window

    // VACUUM: the fragmented v1 dirs age out of a retain-1 window
    val vac = spark.sql(
      "VACUUM graftcat.cdb.maint RETAIN 1 COMMITS GRACE 0 MINUTES").collect()
    vac.head.getInt(1) should be > 0 // deleted at least v1's version dirs
    spark.sql("SELECT count(*) FROM graftcat.cdb.maint").head.getLong(0) shouldBe 40L

    // the parser must leave ordinary statements (and their errors) alone
    spark.sql("SELECT 1 + 1").head.getInt(0) shouldBe 2
    // non-graft names fall through to the DELEGATE parser (which has no
    // OPTIMIZE/VACUUM statement → stock parse error, never a graft lookup
    // error) — same guard DESCRIBE HISTORY always had; a coexisting
    // extension's OPTIMIZE/VACUUM would not be shadowed
    val optE = intercept[Exception](spark.sql("OPTIMIZE nosuch.db.t").collect())
    optE.getMessage should not include "graft"
    val vacE = intercept[Exception](spark.sql("VACUUM nosuch.db.t").collect())
    vacE.getMessage should not include "graft"
    intercept[Exception](spark.sql("VACUUM two.part").collect()) // 1/2-part: stock too
    // unbalanced ZORDER parens must fail as a parse error, never execute
    intercept[Exception](spark.sql("OPTIMIZE graftcat.cdb.maint ZORDER BY (id").collect())
    intercept[Exception](spark.sql("OPTIMIZE graftcat.cdb.maint ZORDER BY id)").collect())
    // a dotted COLUMN path after a table named like HISTORY stays stock:
    // "addr" names no graft catalog, so this is a normal analysis error,
    // not our catalog.db.table complaint
    val e = intercept[Exception](spark.sql("DESCRIBE history addr.city").collect())
    e.getMessage should not include "graft maintenance SQL"

    // DESCRIBE HISTORY lists the commit log newest-first with coordinates
    val hist = spark.sql("DESCRIBE HISTORY graftcat.cdb.maint").collect()
    hist.length shouldBe log.updates(table.name).size
    hist.map(_.getInt(0)).toSeq shouldBe (hist.length to 1 by -1)
    // newest commit is the scoped OPTIMIZE (vacuum is GC, not a commit)
    hist.head.getString(4) should include("OPTIMIZE WHERE")
    hist.last.getString(4) shouldBe "init"

    // parameterized SQL must keep its bind context through the wrapper
    // (the ParserInterface default DROPS it; the delegate override only
    // runs because GraftSqlParser forwards explicitly)
    spark.sql("SELECT :a + 1 AS v", Map("a" -> 41)).head.getInt(0) shouldBe 42
    spark.sql(
      "SELECT count(*) FROM graftcat.cdb.maint WHERE label = :l", Map("l" -> "even"))
      .head.getLong(0) shouldBe 20L
  }

  test("RESTORE TABLE rolls the pointer back as SQL text; refs, timestamps, staged guard") {
    val table = TableDefinition(
      TableName("cdb", "restore"),
      Files.createTempDirectory("graft_cat_restore").toUri,
      PartitionSchema(List(PartitionColumn("label"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)
    // 'restore' is a reserved word of the graft SQL surface since round
    // 15 — addressable backquoted, like any reserved identifier
    val name = "graftcat.cdb.`restore`"
    (1L to 20L).map(i => CatRow(i, if (i % 2 == 0) "even" else "odd")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1Commit = log.currentCommit(table.name)
    log.setRef(table.name, "good", v1Commit, isTag = true)
    (1L to 40L).map(i => CatRow(i, if (i % 2 == 0) "even" else "odd")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))
    val v2Ts = log.updates(table.name).head.timestamp
    spark.sql(s"SELECT count(*) FROM $name").head.getLong(0) shouldBe 40L

    // restore by TAG name (refs win over commit ids, the read contract)
    val res = spark.sql(s"RESTORE TABLE $name TO VERSION AS OF 'good'").collect()
    res.head.getString(0) shouldBe v1Commit.id
    spark.sql(s"SELECT count(*) FROM $name").head.getLong(0) shouldBe 20L
    // the reported coordinate matches DESCRIBE HISTORY's for that commit
    val hist = spark.sql(s"DESCRIBE HISTORY $name").collect()
    hist.find(_.getString(1) == v1Commit.id).get.getInt(0) shouldBe res.head.getInt(1)
    // the restore is itself one more history entry — and un-restorable:
    // rolling forward by TIMESTAMP (at-or-before v2's instant) re-serves v2
    spark.sql(s"RESTORE TABLE $name TO TIMESTAMP AS OF '$v2Ts'").collect()
    spark.sql(s"SELECT count(*) FROM $name").head.getLong(0) shouldBe 40L

    // raw commit ids work like VERSION AS OF reads do
    spark.sql(s"RESTORE TABLE $name TO VERSION AS OF '${v1Commit.id}'").collect()
    spark.sql(s"SELECT count(*) FROM $name").head.getLong(0) shouldBe 20L

    // an unpublished WAP staging commit REFUSES — publish is the only gate
    (41L to 50L).map(i => CatRow(i, "odd")).toDS()
      .versionedInsertIntoBranch(ctx, table, user, UpdateMessage("staged"), "wip")
    val staged = intercept[Exception](
      spark.sql(s"RESTORE TABLE $name TO VERSION AS OF 'wip'").collect())
    staged.getMessage.toLowerCase should include("staged")
    spark.sql(s"SELECT count(*) FROM $name").head.getLong(0) shouldBe 20L

    // non-graft names fall through to the stock parser (which has no
    // RESTORE statement), never a graft lookup error
    val e = intercept[Exception](
      spark.sql("RESTORE TABLE nosuch.db.t TO VERSION AS OF 'x'").collect())
    e.getMessage should not include "graft"
  }

  test("table_changes TVF surfaces the commit-range diff inside ordinary SQL") {
    val table = TableDefinition(
      TableName("cdb", "tvf"),
      Files.createTempDirectory("graft_cat_tvf").toUri,
      PartitionSchema(List(PartitionColumn("label"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)
    Seq(CatRow(1, "a"), CatRow(2, "b")).toDS()
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1 = log.updates(table.name).head.id.id
    Seq(CatRow(3, "b")).toDS() // only 'b' moves (replace-touched semantics)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2"))
    val v2 = log.updates(table.name).head.id.id

    // the TVF returns the ROW-LEVEL FEED: the moved 'b' partition's old
    // contents surface as delete, its new contents as insert; 'a' untouched
    val changed = spark.sql(
      s"""SELECT _change_type, id, label
         |FROM table_changes('graftcat.cdb.tvf', '$v1', '$v2') ORDER BY id""".stripMargin)
    changed.as[(String, Long, String)].collect() shouldBe Array(
      ("delete", 2L, "b"), ("insert", 3L, "b"))
    // scale property: ONLY the moved partition's files reach the scan —
    // the diff is metadata-only, untouched partitions are never read
    every(changed.inputFiles.toSeq) should include("label=b")

    // composes like any relation: aggregate over the diff
    spark.sql(
      s"""SELECT count(*) FROM table_changes('graftcat.cdb.tvf', '$v1', '$v2')
         |WHERE label = 'b' AND _change_type = 'insert'""".stripMargin)
      .head.getLong(0) shouldBe 1L

    // TIMESTAMP endpoints resolve by the at-or-before rule (the q53 /
    // TIMESTAMP AS OF contract): each instant names the last commit at or
    // before it, so (just-after-v1, just-after-v2) reads the same diff as
    // the commit-id call (+1 ms: SQL literals are micros, commit instants
    // carry nanos — truncation would land just before the commit)
    def tsLit(c: String): String = log.updates(table.name)
      .find(_.id.id == c).get.timestamp.plusMillis(1)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    spark.sql(
      s"""SELECT id, label FROM table_changes('graftcat.cdb.tvf',
         |  TIMESTAMP '${tsLit(v1)}', TIMESTAMP '${tsLit(v2)}')
         |WHERE _change_type = 'insert' ORDER BY id""".stripMargin)
      .as[CatRow].collect() shouldBe Array(CatRow(3, "b"))
    // an instant before the first commit can't name a state
    intercept[Exception](spark.sql(
      s"""SELECT * FROM table_changes('graftcat.cdb.tvf',
         |  TIMESTAMP '1999-01-01 00:00:00', TIMESTAMP '${tsLit(v2)}')""".stripMargin)
      .collect())

    // non-literal / wrong-arity / mixed-type calls fail loudly, unknown
    // TVFs untouched
    intercept[Exception](spark.sql("SELECT * FROM table_changes('graftcat.cdb.tvf')").collect())
    intercept[Exception](spark.sql(
      s"SELECT * FROM table_changes('graftcat.cdb.tvf', '$v1', TIMESTAMP '${tsLit(v2)}')")
      .collect())
    intercept[Exception](spark.sql("SELECT * FROM no_such_tvf(1)").collect())
  }

  test("SQL UPDATE rewrites only touched partitions; row-level DELETE drops rows and empties partitions") {
    val table = TableDefinition(
      TableName("cdb", "dmlsql"),
      Files.createTempDirectory("graft_cat_dmlsql").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftcat", table)

    Seq(
      CatEvent(1, "a", "2024-01-01"), CatEvent(2, "b", "2024-01-01"),
      CatEvent(3, "c", "2024-01-02"), CatEvent(4, "d", "2024-01-03"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1Versions = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }
    val day = (d: String) => Partition(ColumnValue(PartitionColumn("date"), d))

    // UPDATE touches rows only in 2024-01-01 → only that partition moves
    spark.sql("UPDATE graftcat.cdb.dmlsql SET label = concat(label, '!') WHERE id <= 2")
    val afterUpdate = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }
    afterUpdate(day("2024-01-01")) should not be v1Versions(day("2024-01-01"))
    afterUpdate(day("2024-01-02")) shouldBe v1Versions(day("2024-01-02"))
    afterUpdate(day("2024-01-03")) shouldBe v1Versions(day("2024-01-03"))
    spark.sql("SELECT id, label, date FROM graftcat.cdb.dmlsql ORDER BY id")
      .as[CatEvent].collect() shouldBe Array(
      CatEvent(1, "a!", "2024-01-01"), CatEvent(2, "b!", "2024-01-01"),
      CatEvent(3, "c", "2024-01-02"), CatEvent(4, "d", "2024-01-03"))
    log.updates(table.name).head.message.content shouldBe "UPDATE (SQL)"

    // partition-column UPDATE migrates the row (round 18): id=1 leaves
    // 2024-01-01 for a brand-new 2024-02-01 partition, one commit
    spark.sql("UPDATE graftcat.cdb.dmlsql SET date = '2024-02-01' WHERE id = 1")
    spark.sql("SELECT id, label, date FROM graftcat.cdb.dmlsql ORDER BY id")
      .as[CatEvent].collect() shouldBe Array(
      CatEvent(1, "a!", "2024-02-01"), CatEvent(2, "b!", "2024-01-01"),
      CatEvent(3, "c", "2024-01-02"), CatEvent(4, "d", "2024-01-03"))
    log.updates(table.name).head.message.content shouldBe "UPDATE (SQL)"

    // row-level DELETE: drops the last row of 01-01 and ALL rows of
    // 01-03 — both emptied partitions must disappear, survivors stay
    spark.sql("DELETE FROM graftcat.cdb.dmlsql WHERE id = 2 OR id = 4")
    spark.sql("SELECT id, label, date FROM graftcat.cdb.dmlsql ORDER BY id")
      .as[CatEvent].collect() shouldBe Array(
      CatEvent(1, "a!", "2024-02-01"), CatEvent(3, "c", "2024-01-02"))
    val afterDelete = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }
    afterDelete.keySet should not contain day("2024-01-03")
    afterDelete.keySet should not contain day("2024-01-01")
    afterDelete(day("2024-01-02")) shouldBe v1Versions(day("2024-01-02"))

    // no-match DELETE and UPDATE commit nothing — history stays clean
    val commitsBefore = log.updates(table.name).size
    spark.sql("DELETE FROM graftcat.cdb.dmlsql WHERE id = 999")
    spark.sql("UPDATE graftcat.cdb.dmlsql SET label = 'zz' WHERE id = 999")
    log.updates(table.name) should have size commitsBefore.toLong

    // partition-value-only DELETE still takes the metadata-only path:
    // exactly ONE commit (the copy-on-write route would add a rewrite
    // commit plus the prune commit — message alone can't distinguish them)
    val commitsBeforePartDelete = log.updates(table.name).size
    spark.sql("DELETE FROM graftcat.cdb.dmlsql WHERE date = '2024-01-02'")
    log.updates(table.name).size shouldBe commitsBeforePartDelete + 1
    log.updates(table.name).head.message.content shouldBe "DELETE (SQL)"
    spark.sql("SELECT id FROM graftcat.cdb.dmlsql").as[Long].collect() shouldBe Array(1L)
  }

  test("merge-on-read SQL DELETE hides rows behind a DV sidecar; no version pointer moves") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    spark.conf.set("spark.sql.catalog.graftmor", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftmor", log)
    val table = TableDefinition(
      TableName("cdb", "mordel"),
      Files.createTempDirectory("graft_cat_mordel").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    // partition VALUES are strings in the version model: without a
    // registration the delegate's dir inference would type date-shaped
    // values as DATE and refuse string inserts
    GraftTableCatalog.register("graftmor", table, Some(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.StringType)))))
    (1L to 9L).map(i => CatEvent(i, s"l$i", s"2024-01-0${(i % 3) + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val v1Fold = log.currentVersion(table.name)
    val v1Commit = log.currentCommit(table.name)

    spark.conf.set("spark.graft.dml.mergeOnRead", "true")
    try {
      // a predicate scattered across EVERY partition: copy-on-write would
      // rewrite the whole table; merge-on-read writes one sidecar
      spark.sql("DELETE FROM graftmor.cdb.mordel WHERE id % 2 = 0")
      // no data moved: every partition keeps its version pointer
      log.currentVersion(table.name) shouldBe v1Fold
      log.updates(table.name).head.message.content shouldBe "DELETE (SQL, merge-on-read)"
      // SQL reads apply the sidecar transparently (GraftDvScanRule)
      spark.sql("SELECT id FROM graftmor.cdb.mordel ORDER BY id")
        .as[Long].collect() shouldBe Array(1L, 3L, 5L, 7L, 9L)
      // time travel to the pre-delete commit still serves every row
      spark.sql(
        s"SELECT count(*) FROM graftmor.cdb.mordel VERSION AS OF '${v1Commit.id}'")
        .head.getLong(0) shouldBe 9L
      // no-match deletes commit nothing
      val commits = log.updates(table.name).size
      spark.sql("DELETE FROM graftmor.cdb.mordel WHERE id = 999")
      log.updates(table.name) should have size commits.toLong

      // merge-on-read composes with a MIXED fold (metadata-only evolution)
      // — exactly where the copy-on-write path must refuse
      spark.sql(
        "ALTER TABLE graftmor.cdb.mordel SET PARTITIONED BY (label) METADATA ONLY")
      spark.sql(
        "INSERT INTO graftmor.cdb.mordel (id, label, date) VALUES (10, 'lx', '2024-01-01')")
      PartitionEvolution.eraSignatures(log.currentVersion(table.name)).size shouldBe 2
      spark.sql("DELETE FROM graftmor.cdb.mordel WHERE id = 3 OR id = 10")
      spark.sql("SELECT id FROM graftmor.cdb.mordel ORDER BY id")
        .as[Long].collect() shouldBe Array(1L, 5L, 7L, 9L)
    } finally spark.conf.unset("spark.graft.dml.mergeOnRead")
  }
}
