package graft.spark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/** TBLPROPERTIES: storage, SQL surface, behavior-key resolution (table
  * property > session conf > default), the post-write auto-optimize hook,
  * and the clone carry. */
class TablePropertiesSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("props-test")

  private def freshContext(): (VersionContext, TableVersions) = {
    val log = new InMemoryTableVersions
    (VersionContext(VersionedMetastore(log, new InMemoryMetastore)), log)
  }

  private def table(name: String): TableDefinition =
    TableDefinition(
      TableName("test", name),
      Files.createTempDirectory(s"graft_props_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))),
      FileFormat.Parquet)

  test("set/unset round-trip, audit commits, and resolution precedence") {
    val (ctx, log) = freshContext()
    val t = table("props_rt")
    ctx.init(t, user, UpdateMessage("init"))
    val before = log.updates(t.name).size

    TableProperties.set(spark, ctx, t,
      Map("graft.dml.mergeOnRead" -> "true", "team" -> "ingest"), user)
    TableProperties.list(spark, log, t) shouldBe Map(
      "graft.dml.mergeOnRead" -> "true", "team" -> "ingest")
    // one audit commit, metadata-only
    log.updates(t.name).size shouldBe before + 1
    log.updates(t.name).head.message.content should include("SET TBLPROPERTIES")

    // precedence: table property wins over session conf
    spark.conf.set("spark.graft.dml.mergeOnRead", "false")
    try TableProperties.effectiveFlag(
      spark, log, t, TableProperties.MergeOnRead) shouldBe true
    finally spark.conf.unset("spark.graft.dml.mergeOnRead")
    // session conf is the fallback when the table says nothing
    TableProperties.effectiveFlag(spark, log, t, TableProperties.AutoOptimize) shouldBe false
    spark.conf.set("spark.graft.autoOptimize", "true")
    try TableProperties.effectiveFlag(
      spark, log, t, TableProperties.AutoOptimize) shouldBe true
    finally spark.conf.unset("spark.graft.autoOptimize")

    TableProperties.unset(spark, ctx, t, Seq("team", "never_existed"), user)
    TableProperties.list(spark, log, t) shouldBe Map("graft.dml.mergeOnRead" -> "true")
    log.updates(t.name).size shouldBe before + 2
  }

  test("a mergeOnRead=true table takes the vector path for DML with no session conf") {
    val (ctx, log) = freshContext()
    val t = table("props_mor")
    ctx.init(t, user, UpdateMessage("init"))
    Seq(Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-01"),
      Event(3, "c", "2024-01-02"))
      .toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    TableProperties.set(spark, ctx, t,
      Map(TableProperties.MergeOnRead -> "true"), user)

    // SQL DELETE through the catalog must ride deletion vectors: zero
    // pointer moves, rows hidden
    spark.conf.set(
      "spark.sql.catalog.graftprops", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftprops", log)
    GraftTableCatalog.register("graftprops", t)
    val fold = log.currentVersion(t.name)
    spark.sql(s"DELETE FROM graftprops.test.props_mor WHERE id = 2")
    log.currentVersion(t.name) shouldBe fold // vectors, not a rewrite
    DeletionVectors.hasVectors(spark, log, t, None) shouldBe true
    spark.sql(s"SELECT id FROM graftprops.test.props_mor")
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
  }

  test("SQL surface: CREATE ... TBLPROPERTIES seeds, ALTER SET/UNSET, SHOW serves them") {
    val log = new InMemoryTableVersions
    spark.conf.set(
      "spark.sql.catalog.graftprops2", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftprops2", log)
    val loc = Files.createTempDirectory("graft_props_sql")
    spark.sql(
      s"""CREATE TABLE graftprops2.test.props_sql (id BIGINT, date STRING)
         |PARTITIONED BY (date) LOCATION '$loc'
         |TBLPROPERTIES ('graft.autoOptimize' = 'true', 'team' = 'search')""".stripMargin)
    def shown(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES graftprops2.test.props_sql")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    shown()("graft.autoOptimize") shouldBe "true"
    shown()("team") shouldBe "search"

    spark.sql(
      "ALTER TABLE graftprops2.test.props_sql SET TBLPROPERTIES " +
        "('team' = 'ads', 'graft.autoOptimize.minFiles' = '8')")
    shown()("team") shouldBe "ads"
    shown()("graft.autoOptimize.minFiles") shouldBe "8"
    spark.sql(
      "ALTER TABLE graftprops2.test.props_sql UNSET TBLPROPERTIES ('team')")
    shown().get("team") shouldBe None
    shown()("graft.autoOptimize") shouldBe "true"
  }

  test("graft.autoOptimize=true folds small-file pressure right after the write") {
    val (ctx, log) = freshContext()
    val t = table("props_autoopt")
    ctx.init(t, user, UpdateMessage("init"))
    TableProperties.set(spark, ctx, t,
      Map(TableProperties.AutoOptimize -> "true",
        TableProperties.AutoOptimizeMinFiles -> "4"), user)

    // a deliberately fragmented write: >= 4 files in one partition
    val frag = (1 to 40).map(i => Event(i.toLong, s"k$i", "2024-01-01"))
    frag.toDS().repartition(8)
      .versionedInsertInto(ctx, t, user, UpdateMessage("fragmented"))

    // the hook's compaction commit follows the write commit
    val msgs = log.updates(t.name).map(_.message.content)
    msgs.exists(_.contains("AUTO OPTIMIZE")) shouldBe true
    // and the current state serves every row from ONE file
    val reader = VersionedReader(spark, log)
    reader.read(t).count() shouldBe 40L
    val pvs = log.currentVersion(t.name).asInstanceOf[PartitionedTableVersion]
    val dir = SparkPaths.dirFor(
      t.location, pvs.partitionVersions.keys.head, pvs.partitionVersions.values.head)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".")) shouldBe 1
  }

  test("declared vacuum retention and clustering drive bare VACUUM/OPTIMIZE statements") {
    val (ctx, log) = freshContext()
    val t = table("props_maint")
    ctx.init(t, user, UpdateMessage("init"))
    spark.conf.set(
      "spark.sql.catalog.graftprops3", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftprops3", log)
    GraftTableCatalog.register("graftprops3", t)
    val name = s"graftprops3.${t.name.schema}.${t.name.name}"
    // three states of one partition: two are reclaimable history
    (1 to 3).foreach { i =>
      Seq(Event(i.toLong, s"v$i", "2024-01-01"))
        .toDS().versionedInsertInto(ctx, t, user, UpdateMessage(s"v$i"))
    }

    // built-in default (keepLast=3) reclaims nothing here
    val before = spark.sql(s"VACUUM $name DRY RUN").collect().head
    before.getInt(1) shouldBe 0
    // the table declares its own retention: bare VACUUM now reclaims
    TableProperties.set(spark, ctx, t, Map(
      "graft.vacuum.retainCommits" -> "1",
      "graft.vacuum.graceMinutes" -> "0"), user)
    val after = spark.sql(s"VACUUM $name DRY RUN").collect().head
    after.getInt(1) should be > 0
    // an explicit statement argument still wins over the property
    spark.sql(s"VACUUM $name RETAIN 100 COMMITS DRY RUN")
      .collect().head.getInt(1) shouldBe 0

    // declared clustering: a bare OPTIMIZE Z-orders by the property
    TableProperties.set(spark, ctx, t, Map("graft.zorder.columns" -> "id"), user)
    spark.sql(s"OPTIMIZE $name").collect().head.getString(0) should include("ZORDER")
    log.updates(t.name).head.message.content should include("by id")
  }

  test("clones carry the property set and own it independently") {
    val (ctx, log) = freshContext()
    val src = table("props_clone_src")
    ctx.init(src, user, UpdateMessage("init"))
    Seq(Event(1, "a", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v1"))
    TableProperties.set(spark, ctx, src, Map("team" -> "ingest"), user)

    val shallow = ShallowClone.clone(
      spark, ctx, src, TableName("test", "props_clone_sh"), user)
    TableProperties.list(spark, log, shallow) shouldBe Map("team" -> "ingest")
    val deep = DeepClone.clone(
      spark, ctx, src, TableName("test", "props_clone_dp"),
      Files.createTempDirectory("graft_props_deep").toUri, user)
    TableProperties.list(spark, log, deep) shouldBe Map("team" -> "ingest")

    // independence: mutating the clone's set never touches the source's
    TableProperties.set(spark, ctx, shallow, Map("team" -> "ads"), user)
    TableProperties.list(spark, log, src) shouldBe Map("team" -> "ingest")
  }

  test("behavior-key values validate at SET/CREATE time; legacy bad values fail with a named error") {
    val (ctx, log) = freshContext()
    val t = table("props_validate")
    ctx.init(t, user, UpdateMessage("init"))

    // a boolean behavior key refuses a non-boolean value AT SET — not on
    // the next DELETE that consults it
    val e1 = intercept[IllegalArgumentException] {
      TableProperties.set(spark, ctx, t, Map(TableProperties.MergeOnRead -> "yes"), user)
    }
    e1.getMessage should include("graft.dml.mergeOnRead")
    e1.getMessage should include("'yes'")
    val e2 = intercept[IllegalArgumentException] {
      TableProperties.set(spark, ctx, t,
        Map(TableProperties.AutoOptimizeMinFiles -> "lots"), user)
    }
    e2.getMessage should include("'lots'")
    // nothing landed: no property stored, no audit commit
    TableProperties.list(spark, log, t) shouldBe Map.empty
    log.updates(t.name).size shouldBe 1 // init only

    // SQL CREATE ... TBLPROPERTIES refuses the same way
    spark.conf.set("spark.sql.catalog.graftpv", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftpv", new InMemoryTableVersions)
    val bad = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE graftpv.test.pv_bad (id BIGINT, date STRING)
           |USING parquet PARTITIONED BY (date)
           |LOCATION '${Files.createTempDirectory("graft_pv_bad").toUri}'
           |TBLPROPERTIES ('graft.autoOptimize' = 'maybe')""".stripMargin)
    }
    bad.getMessage should include("'maybe'")

    // a LEGACY bad value (committed before validation existed) fails its
    // consultation with an error naming table, key, and value
    log.commit(t.name, TableVersions.TableUpdate(
      user, UpdateMessage("legacy"), java.time.Instant.now(), Nil)
      .withTableMetadata(MetadataFiles.tblProperties.entry(Map("graft.dml.mergeOnRead" -> "yes"))))
    val e3 = intercept[IllegalArgumentException] {
      TableProperties.effectiveFlag(spark, log, t, TableProperties.MergeOnRead)
    }
    e3.getMessage should include(t.name.fullyQualifiedName)
    e3.getMessage should include("graft.dml.mergeOnRead")
    e3.getMessage should include("'yes'")
  }

  test("a mixed ALTER is atomic: failing schema change leaves property changes unapplied; SET+UNSET is one commit") {
    val log2 = new InMemoryTableVersions
    spark.conf.set("spark.sql.catalog.graftpa", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftpa", log2)
    val name = "graftpa.test.pa_atomic"
    spark.sql(
      s"""CREATE TABLE $name (id BIGINT, date STRING) USING parquet
         |PARTITIONED BY (date)
         |LOCATION '${Files.createTempDirectory("graft_pa").toUri}'
         |TBLPROPERTIES ('team' = 'a')""".stripMargin)
    val tn = TableName("test", "pa_atomic")
    val (_, defn) = GraftTableCatalog.lookup("graftpa", tn).get
    // mixed batches arrive through the DSv2 alterTable API (one
    // TableChange list carrying both property and schema changes)
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    val catalog = spark.sessionState.catalogManager.catalog("graftpa")
      .asInstanceOf[GraftTableCatalog]
    val ident = Identifier.of(Array("test"), "pa_atomic")

    // schema change FAILS (duplicate column) -> the SET in the same
    // batch must NOT have landed
    intercept[Exception] {
      catalog.alterTable(ident,
        TableChange.setProperty("team", "b"),
        TableChange.addColumn(
          Array("id"), org.apache.spark.sql.types.StringType))
    }
    TableProperties.list(spark, log2, defn) shouldBe Map("team" -> "a")

    // a SET+UNSET batch lands as ONE write + ONE audit commit
    val commitsBefore = log2.updates(tn).size
    catalog.alterTable(ident,
      TableChange.setProperty("x", "1"),
      TableChange.removeProperty("team"))
    TableProperties.list(spark, log2, defn) shouldBe Map("x" -> "1")
    log2.updates(tn).size shouldBe commitsBefore + 1
    val msg = log2.updates(tn).head.message.content
    msg should include("SET TBLPROPERTIES (x=1)")
    msg should include("UNSET TBLPROPERTIES (team)")
  }

  test("property reads memoize: repeated behavior-key consultations hit the filesystem once") {
    val (ctx, log) = freshContext()
    val t = table("props_cache")
    ctx.init(t, user, UpdateMessage("init"))
    TableProperties.set(spark, ctx, t, Map(TableProperties.MergeOnRead -> "true"), user)

    // once the log carries the property set, a consultation reads only
    // the log: a (legacy) property file planted BEHIND it is never opened
    // — not even probed, or its mere presence would refuse the read
    val f = java.nio.file.Paths.get(t.location).resolve(
      s"_tblproperties/${t.name.fullyQualifiedName}.json")
    Files.createDirectories(f.getParent)
    Files.write(f, """{"graft.dml.mergeOnRead":"false"}""".getBytes("UTF-8"))
    (1 to 3).foreach { _ =>
      TableProperties.effectiveFlag(spark, log, t, TableProperties.MergeOnRead) shouldBe true
    }
    TableProperties.unset(spark, ctx, t, Seq(TableProperties.MergeOnRead), user)
    TableProperties.effectiveFlag(spark, log, t, TableProperties.MergeOnRead) shouldBe false
  }
}
