package graft.spark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.UserId

/** SHOW CREATE TABLE — the round-trippable DDL script: CREATE (schema /
  * format / partitioning / LOCATION / TBLPROPERTIES) plus one ALTER per
  * sidecar declaration. Running the script with LOCATION re-pointed must
  * reproduce an equivalent table. */
class ShowCreateTableSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session

  private val log = new InMemoryTableVersions
  spark.conf.set("spark.sql.catalog.graftsct", classOf[GraftTableCatalog].getName)
  GraftTableCatalog.bind("graftsct", log)

  test("SHOW CREATE TABLE emits every declaration kind; the script reproduces an equivalent table") {
    val loc = Files.createTempDirectory("graft_sct_src").toUri
    val src = "graftsct.db.sct_src"
    spark.sql(
      s"""CREATE TABLE $src (
         |  id BIGINT NOT NULL, amount DOUBLE, kind STRING, date STRING)
         |USING parquet PARTITIONED BY (date) LOCATION '$loc'
         |TBLPROPERTIES ('team' = 'data', 'graft.compact.minFiles' = '9')""".stripMargin)
    spark.sql(s"ALTER TABLE $src ADD CONSTRAINT amt_pos CHECK (amount > 0)")
    spark.sql(s"ALTER TABLE $src ADD COLUMN kind_up STRING GENERATED ALWAYS AS (upper(kind))")
    spark.sql(s"ALTER TABLE $src ADD COLUMN rid BIGINT GENERATED ALWAYS AS IDENTITY")
    spark.sql(s"ALTER TABLE $src ALTER COLUMN kind SET DEFAULT 'misc'")
    val (binding, srcDefn) =
      GraftTableCatalog.lookup("graftsct", TableName("db", "sct_src")).get
    Constraints.add(
      spark,
      VersionContext(GraftV2Table.metastoreFor(binding, srcDefn)),
      srcDefn, Constraints.notNull("id"), UserId("sct"))
    spark.sql(s"INSERT INTO $src (id, amount, kind, date) VALUES (7, 3.5, 'a', 'd1')")

    val script = spark.sql(s"SHOW CREATE TABLE $src").head().getString(0)
    // every declaration kind present, in its own declared spelling
    script should include(s"CREATE TABLE $src (")
    script should include("`id` BIGINT NOT NULL")
    script should include("USING parquet")
    script should include("PARTITIONED BY (`date`)")
    script should include(s"LOCATION '${srcDefn.location}'")
    script should include("'team' = 'data'")
    script should include("'graft.compact.minFiles' = '9'")
    script should include("ADD CONSTRAINT amt_pos CHECK (amount > 0)")
    script should include("ADD CONSTRAINT id_not_null CHECK (id IS NOT NULL)")
    script should include("ADD COLUMN kind_up STRING GENERATED ALWAYS AS (upper(kind))")
    script should include("ADD COLUMN rid BIGINT GENERATED ALWAYS AS IDENTITY")
    script should include("ALTER COLUMN kind SET DEFAULT 'misc'")
    // generated/identity columns materialize via their ALTERs, never the
    // CREATE column list (a supplied value would refuse)
    script.split(";").head should not include "kind_up"
    script.split(";").head should not include "rid"

    // ROUND TRIP: re-point name + location, run the script verbatim
    val dstLoc = Files.createTempDirectory("graft_sct_dst").toUri
    val replayed = script
      .replace(src, "graftsct.db.sct_dst")
      .replace(s"LOCATION '${srcDefn.location}'", s"LOCATION '$dstLoc'")
    replayed.split(";\n").foreach(stmt => spark.sql(stmt).collect())

    val dst = "graftsct.db.sct_dst"
    val (_, dstDefn) = GraftTableCatalog.lookup("graftsct", TableName("db", "sct_dst")).get
    // equivalent schema (generated/identity columns appended by their
    // ALTERs — compare as name->type maps)
    spark.table(dst).schema.fields.map(f => f.name -> f.dataType).toMap shouldBe
      spark.table(src).schema.fields.map(f => f.name -> f.dataType).toMap
    dstDefn.partitionSchema shouldBe srcDefn.partitionSchema
    TableProperties.list(spark, log, dstDefn) shouldBe TableProperties.list(spark, log, srcDefn)
    GeneratedColumns.list(spark, log, dstDefn).map(g => (g.column, g.expr)) shouldBe
      GeneratedColumns.list(spark, log, srcDefn).map(g => (g.column, g.expr))
    ColumnDefaults.list(spark, log, dstDefn) shouldBe ColumnDefaults.list(spark, log, srcDefn)
    IdentityColumns.declared(spark, log, dstDefn) shouldBe Some("rid")

    // the reproduced declarations ENFORCE: constraint, default, identity,
    // generation all behave on the new table's own writes
    spark.sql(s"INSERT INTO $dst (id, amount, date) VALUES (1, 2.0, 'd1')")
    val row = spark.sql(
      s"SELECT kind, kind_up, rid FROM $dst WHERE id = 1").head()
    row.getString(0) shouldBe "misc"
    row.getString(1) shouldBe "MISC"
    row.isNullAt(2) shouldBe false
    val bad = intercept[Exception] {
      spark.sql(s"INSERT INTO $dst (id, amount, date) VALUES (2, -1.0, 'd1')")
    }
    bad.getMessage should include("amt_pos")
  }

  test("SHOW CREATE TABLE on a row-tracked table emits SET ROW TRACKING, not an identity ADD COLUMN") {
    val loc = Files.createTempDirectory("graft_sct_rt").toUri
    val name = "graftsct.db.sct_rt"
    spark.sql(
      s"CREATE TABLE $name (id BIGINT, date STRING) USING parquet " +
        s"PARTITIONED BY (date) LOCATION '$loc'")
    spark.sql(s"ALTER TABLE $name SET ROW TRACKING")
    val script = spark.sql(s"SHOW CREATE TABLE $name").head().getString(0)
    script should include(s"ALTER TABLE $name SET ROW TRACKING")
    script should not include "GENERATED ALWAYS AS IDENTITY"
    script.split(";").head should not include RowTracking.RowIdCol
  }

  test("SHOW CREATE TABLE VERSION AS OF reproduces the addressed commit's declaration across a rename and a widen") {
    val loc = Files.createTempDirectory("graft_sct_asof").toUri
    val name = "graftsct.db.sct_asof"
    spark.sql(
      s"CREATE TABLE $name (id BIGINT, qty INT, kind STRING, date STRING) USING parquet " +
        s"PARTITIONED BY (date) LOCATION '$loc'")
    spark.sql(s"INSERT INTO $name VALUES (1, 10, 'a', 'd1'), (2, 20, 'b', 'd1')")
    val (binding, _) =
      GraftTableCatalog.lookup("graftsct", TableName("db", "sct_asof")).get
    val v1 = binding.log.currentCommit(TableName("db", "sct_asof"))

    spark.sql(s"ALTER TABLE $name RENAME COLUMN kind TO category")
    spark.sql(s"ALTER TABLE $name ALTER COLUMN qty TYPE BIGINT")

    // current script: new name, wide type
    val cur = spark.sql(s"SHOW CREATE TABLE $name").head().getString(0)
    cur should include("`category` STRING")
    cur should include("`qty` BIGINT")
    cur should not include "`kind`"

    // AS OF the pre-evolution commit: old name, narrow type — the audit
    // posture (a historical declaration can be reproduced verbatim)
    val old = spark.sql(
      s"SHOW CREATE TABLE $name VERSION AS OF '${v1.id}'").head().getString(0)
    old should include("`kind` STRING")
    old should include("`qty` INT")
    old should not include "`category`"

    // the historical script REPLAYS: re-pointed, it creates a table with
    // exactly the addressed commit's shape
    val replayLoc = Files.createTempDirectory("graft_sct_asof_replay").toUri
    val replayed = old.replace(name, "graftsct.db.sct_asof_replay")
      .replace(s"LOCATION '$loc'", s"LOCATION '$replayLoc'")
    replayed.split(";").map(_.trim).filter(_.nonEmpty).foreach(spark.sql(_))
    val rs = spark.table("graftsct.db.sct_asof_replay").schema
    rs.fieldNames should contain("kind")
    rs("qty").dataType.catalogString shouldBe "int"
  }

  test("a Scala-API generated rule with no declared type and no data emits its ANALYZED type, never a guess") {
    val loc = Files.createTempDirectory("graft_sct_gt").toUri
    val name = "graftsct.db.sct_gt"
    spark.sql(
      s"CREATE TABLE $name (id BIGINT, kind STRING, date STRING) USING parquet " +
        s"PARTITIONED BY (date) LOCATION '$loc'")
    val (binding, defn) =
      GraftTableCatalog.lookup("graftsct", TableName("db", "sct_gt")).get
    // the Scala API records no declared type; the table has never been
    // written, so the column has no materialized type either — the DDL
    // derives it by analyzing the expression against the base columns
    GeneratedColumns.add(
      spark, VersionContext(GraftV2Table.metastoreFor(binding, defn)), defn,
      GeneratedColumns.GeneratedColumn("kind_len", "length(kind)"), UserId("sct"))
    val script = spark.sql(s"SHOW CREATE TABLE $name").head().getString(0)
    script should include("ADD COLUMN kind_len INT GENERATED ALWAYS AS (length(kind))")
    script should not include "kind_len BIGINT"
  }

  test("column COMMENTs: CREATE-time and ALTER-time, durable, audited, DESCRIBE-visible, script round-trip") {
    val loc = Files.createTempDirectory("graft_sct_cm").toUri
    val name = "graftsct.db.sct_cm"
    spark.sql(
      s"""CREATE TABLE $name (
         |  id BIGINT COMMENT 'surrogate key', amount DOUBLE, date STRING)
         |USING parquet PARTITIONED BY (date) LOCATION '$loc'""".stripMargin)
    spark.sql(s"INSERT INTO $name VALUES (1, 2.5, 'd1')")
    val tn = TableName("db", "sct_cm")

    // ALTER-time comment + replace + audit trail
    spark.sql(s"ALTER TABLE $name ALTER COLUMN amount COMMENT 'gross, USD'")
    log.updates(tn).head.message.content should
      include("ALTER COLUMN amount COMMENT 'gross, USD'")
    spark.sql(s"ALTER TABLE $name ALTER COLUMN id COMMENT 'row id (stable)'")

    // DESCRIBE sees the declared comments (served-schema decoration)
    val desc = spark.sql(s"DESCRIBE TABLE $name").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    desc("id") shouldBe "row id (stable)"
    desc("amount") shouldBe "gross, USD"

    // the DDL script replays the comments; re-pointed it reproduces them
    val script = spark.sql(s"SHOW CREATE TABLE $name").head().getString(0)
    script should include("`id` BIGINT COMMENT 'row id (stable)'")
    script should include("`amount` DOUBLE COMMENT 'gross, USD'")
    val loc2 = Files.createTempDirectory("graft_sct_cm2").toUri
    val replay = script.split(";\\s*\n").head
      .replace(name, "graftsct.db.sct_cm2")
      .replaceAll("LOCATION '[^']*'", s"LOCATION '$loc2'")
    spark.sql(replay)
    val (_, defn2) =
      GraftTableCatalog.lookup("graftsct", TableName("db", "sct_cm2")).get
    Comments.list(spark, log, defn2) shouldBe Map(
      "id" -> "row id (stable)", "amount" -> "gross, USD")

    // a clone carries the source's comments
    spark.sql(s"CREATE TABLE graftsct.db.sct_cm3 SHALLOW CLONE $name")
    val (_, defn3) =
      GraftTableCatalog.lookup("graftsct", TableName("db", "sct_cm3")).get
    Comments.list(spark, log, defn3).keySet shouldBe Set("id", "amount")

    // UNSET clears (empty comment) and audits
    spark.sql(s"ALTER TABLE $name ALTER COLUMN amount COMMENT ''")
    val (_, defn1) = GraftTableCatalog.lookup("graftsct", tn).get
    Comments.list(spark, log, defn1).keySet shouldBe Set("id")
  }
}
