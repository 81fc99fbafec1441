package graft.spark

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{TableUpdate, UpdateMessage, UserId}
import graft.spark.GeneratedColumns.GeneratedColumn
import graft.spark.VersionContext.DatasetVersionOps

/** Table metadata on the commit line ([[MetadataFiles]]): every family's
  * value rides the commit that changes it, so a crash mid-change is a
  * torn final log line — which replay ignores and the next append drops
  * — and never a torn or diverging metadata file. Also pinned here: the
  * JSON shape every family stores, the refusal of the earlier store's
  * files, and the CAS retry that keeps racing DDL from losing an edit.
  */
class AtomicSidecarSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("atomic-test")
  private val json = new ObjectMapper()

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

  /** A table an earlier version created: its init commit carries no
    * table metadata. */
  private def earlierTable(name: String): (VersionContext, InMemoryTableVersions, TableDefinition) = {
    val (ctx, _, table) = freshTable(name)
    val log = new InMemoryTableVersions
    log.init(table.name, table.isSnapshot, user, UpdateMessage("init"), java.time.Instant.now())
    (ctx.copy(metastore = ctx.metastore.copy(tableVersions = log)), log, table)
  }

  private def sidecarPath(table: TableDefinition, rel: String): Path =
    new Path(Partition.normalizedDir(table.location).toString + rel)

  /** Write `text` where the earlier store kept a file, bypassing graft. */
  private def plant(p: Path, text: String): Unit = {
    val local = Paths.get(p.toUri)
    Files.createDirectories(local.getParent)
    Files.write(local, text.getBytes("UTF-8"))
  }

  /** A durable-log table: its metadata lives in the log file. */
  private def durableTable(name: String): (VersionContext, JsonFileTableVersions, TableDefinition, java.nio.file.Path) = {
    val logDir = Files.createTempDirectory(s"graft_${name}_log")
    val log = new JsonFileTableVersions(logDir)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", name),
      Files.createTempDirectory(s"graft_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (ctx, log, table, logDir.resolve(s"${table.name.fullyQualifiedName}.jsonl"))
  }

  /** A crash mid-append of a commit carrying `family`: the log ends in a
    * whole commit line with a new value for it, minus the newline. */
  private def tornCommit(logFile: java.nio.file.Path, family: String, value: String): Unit = {
    val torn = TableUpdate(user, UpdateMessage("torn"), java.time.Instant.now(), Nil)
    val line = json.createObjectNode()
      .put("record", "commit").put("id", torn.metadata.id.id).put("user", user.value)
      .put("message", "torn").put("timestamp", torn.metadata.timestamp.toString)
    line.putObject("tableMetadata").put(family, value)
    line.putArray("operations")
    Files.write(logFile, json.writeValueAsString(line).getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** A metadata-only commit carrying `entries` as written, bypassing the
    * family modules' validation. */
  private def carrying(log: TableVersions, t: TableDefinition, entries: Map[String, String]): Unit =
    log.commit(t.name, TableUpdate(user, UpdateMessage("planted"), java.time.Instant.now(), Nil)
      .withTableMetadata(entries))

  /** The next append after a crash: an unrelated metadata-only commit. */
  private def nextAppend(log: TableVersions, t: TableDefinition): Unit =
    log.commit(t.name, TableUpdate(user, UpdateMessage("next"), java.time.Instant.now(), Nil))

  // ---------------- crash mid-change ----------------

  test("a crash between staging and publish leaves the previous content intact") {
    val (ctx, log, table, logFile) = durableTable("atomic_crash")
    Constraints.add(spark, ctx, table, Constraints.notNull("id"), user)
    tornCommit(logFile, MetadataFiles.constraints.name,
      """[{"name":"pos","kind":"check","expr":"id > 0"}]""")
    Constraints.list(spark, log, table).map(_.name) shouldBe List("id_not_null")
    // and the writer recovers on retry: the torn line never blocks
    Constraints.add(spark, ctx, table, Constraints.check("pos", "id > 0"), user)
    Constraints.list(spark, log, table).map(_.name) shouldBe List("id_not_null", "pos")
    new String(Files.readAllBytes(logFile), "UTF-8").split("\n")
      .count(_.contains("\"torn\"")) shouldBe 0
  }

  test("column mapping survives a torn update: previous rename still resolves") {
    val (ctx, log, table, logFile) = durableTable("atomic_map")
    Seq((1L, "k1", "2024-01-01")).toDF("id", "kind", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    ColumnMapping.rename(spark, ctx, table, "kind", "category", user)
    tornCommit(logFile, MetadataFiles.columnMapping.name,
      """[{"logical":"label","physical":"kind","dropped":false}]""")
    val st = ColumnMapping.entriesAt(spark, log, table, None)
    st.isDefined shouldBe true
    st.get.exists(e => e.logical == "category" && e.physical == "kind") shouldBe true
    // the next commit repairs the tail; the torn rename never lands
    ColumnMapping.rename(spark, ctx, table, "category", "kind2", user)
    ColumnMapping.read(spark, log, table).columns.toSeq shouldBe Seq("id", "kind2", "date")
  }

  test("constraints survive a torn update") {
    val (ctx, log, table, logFile) = durableTable("atomic_cons")
    Constraints.add(spark, ctx, table, Constraints.notNull("id"), user)
    tornCommit(logFile, MetadataFiles.constraints.name, "[]")
    Constraints.list(spark, log, table).map(_.name) shouldBe List("id_not_null")
    nextAppend(log, table)
    Constraints.list(spark, log, table).map(_.name) shouldBe List("id_not_null")
  }

  test("generated columns survive a torn update") {
    val (ctx, log, table, logFile) = durableTable("atomic_gen")
    GeneratedColumns.add(spark, ctx, table, GeneratedColumn("y", "substring(date, 1, 4)"), user)
    tornCommit(logFile, MetadataFiles.generated.name, "[]")
    GeneratedColumns.list(spark, log, table).map(_.column) shouldBe List("y")
    nextAppend(log, table)
    GeneratedColumns.list(spark, log, table).map(_.column) shouldBe List("y")
  }

  test("identity declaration survives a torn update") {
    val (ctx, log, table, logFile) = durableTable("atomic_id")
    IdentityColumns.declare(spark, ctx, table, "id", user)
    tornCommit(logFile, MetadataFiles.identity.name, """{"column":"other"}""")
    IdentityColumns.declared(spark, log, table) shouldBe Some("id")
    nextAppend(log, table)
    IdentityColumns.declared(spark, log, table) shouldBe Some("id")
  }

  test("partition-scheme era registry survives a torn update") {
    val (ctx, log, table, logFile) = durableTable("atomic_evo")
    Seq((1L, "k1", "2024-01-01")).toDF("id", "kind", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val evolved = PartitionEvolution.evolveMetadataOnly(
      spark, ctx, table, PartitionSchema(List(PartitionColumn("kind"))), user)
    tornCommit(logFile, MetadataFiles.partitioning.name,
      """{"before":["kind"],"after":["id"]}""")
    PartitionEvolution.schemeAt(spark, log, table, None).columns.map(_.name) shouldBe List("kind")
    Seq((2L, "k2", "2024-01-02")).toDF("id", "kind", "date")
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("v2"))
    PartitionEvolution.schemeAt(spark, log, table, None).columns.map(_.name) shouldBe List("kind")
  }

  test("materialized-view definition survives a torn update") {
    val logDir = Files.createTempDirectory("graft_atomic_mv_log")
    val log = new JsonFileTableVersions(logDir)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val mv = TableDefinition(
      TableName("test", "atomic_mv"), Files.createTempDirectory("graft_atomic_mv").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(mv, user, UpdateMessage("CREATE MATERIALIZED VIEW"),
      declared = MetadataFiles.mv.entry(json.readTree(
        """{"source":"graft.test.src","group":["g"],"aggs":[{"fn":"count","input":"*","alias":"cnt"}]}""")))
    tornCommit(logDir.resolve(s"${mv.name.fullyQualifiedName}.jsonl"), MetadataFiles.mv.name,
      """{"source":"graft.test.other","group":[],"aggs":[]}""")
    val d = MaterializedView.readDef(spark, log, mv)
    d.sourceParts shouldBe Seq("graft", "test", "src")
    d.aggs.map(_.alias) shouldBe Seq("cnt")
  }

  test("a DDL's declaration and its commit cannot diverge") {
    // a failure BEFORE the append: neither the value nor the commit
    val hooked = new HookedTableVersions(new InMemoryTableVersions)
    val catalog = new HookedMetastore
    val ctx = VersionContext(VersionedMetastore(hooked, catalog))
    val t = TableDefinition(
      TableName("test", "atomic_diverge"), Files.createTempDirectory("graft_diverge").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    val commits = hooked.updates(t.name).size
    hooked.beforeAppend = _ => throw new RuntimeException("crash before append")
    intercept[RuntimeException](
      Constraints.add(spark, ctx, t, Constraints.notNull("id"), user)
    ).getMessage shouldBe "crash before append"
    Constraints.list(spark, hooked, t) shouldBe Nil
    hooked.updates(t.name).size shouldBe commits

    // a failure in the catalog sync AFTER the append: both exist
    catalog.afterUpdate = _ => throw new RuntimeException("catalog sync failed")
    intercept[RuntimeException](
      TableProperties.set(spark, ctx, t, Map("team" -> "ads"), user)
    ).getMessage shouldBe "catalog sync failed"
    catalog.afterUpdate = _ => ()
    TableProperties.list(spark, hooked, t) shouldBe Map("team" -> "ads")
    hooked.updates(t.name).size shouldBe commits + 1
    hooked.updates(t.name).head.message.content should include("SET TBLPROPERTIES (team=ads)")
  }

  // ---------------- every family, table-driven ----------------

  private val mvJson =
    """{"source":"graft.test.src","factAlias":"f","where":"f.x > 1","group":["g"],""" +
      """"aggs":[{"fn":"count","input":"*","alias":"cnt"},{"fn":"sum","input":"x","alias":"sx"}],""" +
      """"joins":[{"dim":"graft.test.dim","alias":"d","on":"f.k = d.k"}],"groupRefs":["d.g"]}"""

  /** One row per declaration family: a first change through the family's
    * public writer, and the family's public reader. */
  private final case class Row(
      family: MetadataFiles.Family[_],
      write: (VersionContext, TableVersions, TableDefinition) => Unit,
      read: (TableVersions, TableDefinition) => Any)

  private val rows: List[Row] = List(
    Row(MetadataFiles.constraints,
      (ctx, _, t) => Constraints.add(spark, ctx, t, Constraints.notNull("id"), user),
      (log, t) => Constraints.list(spark, log, t)),
    Row(MetadataFiles.generated,
      (ctx, _, t) => GeneratedColumns.add(
        spark, ctx, t, GeneratedColumn("y", "substring(date, 1, 4)"), user),
      (log, t) => GeneratedColumns.list(spark, log, t)),
    Row(MetadataFiles.identity,
      (ctx, _, t) => IdentityColumns.declare(spark, ctx, t, "id", user),
      (log, t) => IdentityColumns.declared(spark, log, t)),
    Row(MetadataFiles.defaults,
      (ctx, _, t) => ColumnDefaults.set(spark, ctx, t, "kind", "'k0'", user),
      (log, t) => ColumnDefaults.list(spark, log, t)),
    Row(MetadataFiles.comments,
      (ctx, _, t) => Comments.set(spark, ctx, t, "id", Some("row id"), user),
      (log, t) => Comments.list(spark, log, t)),
    Row(MetadataFiles.tblProperties,
      (ctx, _, t) => TableProperties.set(
        spark, ctx, t, Map(TableProperties.MergeOnRead -> "true"), user),
      (log, t) => TableProperties.list(spark, log, t)),
    Row(MetadataFiles.mv,
      (_, log, t) => carrying(log, t, MetadataFiles.mv.entry(json.readTree(mvJson))),
      (log, t) => MaterializedView.readDef(spark, log, t)))

  test("every metadata family survives a crash before publish, read through its own reader") {
    rows.map(_.family.name) shouldBe (MetadataFiles.cloned :+ MetadataFiles.mv).map(_.name)
    rows.foreach { r =>
      withClue(r.family.name) {
        val (ctx, log, t, logFile) = durableTable(s"atomic_all_${r.family.name}")
        r.write(ctx, log, t)
        val before = r.read(log, t)
        // the crash: a whole commit line emptying the family, minus its newline
        tornCommit(logFile, r.family.name, r.family.emptyEntry(r.family.name))
        r.read(log, t) shouldBe before
        // the next append drops the torn line; the previous value governs
        nextAppend(log, t)
        r.read(log, t) shouldBe before
      }
    }
  }

  // ---------------- on-disk format ----------------

  /** One literal per family in the exact shape the hand-written codecs
    * stored, and the value its public reader must return. */
  private val formats: List[(MetadataFiles.Family[_], String, (TableVersions, TableDefinition) => Any, Any)] = List(
    (MetadataFiles.constraints,
      """[{"name":"id_not_null","kind":"notnull","expr":"id"},{"name":"pos","kind":"check","expr":"id > 0"}]""",
      (log, t) => Constraints.list(spark, log, t),
      List(Constraints.notNull("id"), Constraints.check("pos", "id > 0"))),
    (MetadataFiles.generated,
      """[{"column":"y","expr":"substring(date, 1, 4)","zone":"UTC","type":"string"},""" +
        """{"column":"m","expr":"substring(date, 1, 7)"}]""",
      (log, t) => GeneratedColumns.list(spark, log, t),
      List(GeneratedColumn("y", "substring(date, 1, 4)", Some("UTC"), Some("string")),
        GeneratedColumn("m", "substring(date, 1, 7)"))),
    (MetadataFiles.identity, """{"column":"rid"}""",
      (log, t) => IdentityColumns.declared(spark, log, t), Some("rid")),
    (MetadataFiles.defaults, """[{"column":"kind","expr":"'k0'"}]""",
      (log, t) => ColumnDefaults.list(spark, log, t), List(ColumnDefaults.ColumnDefault("kind", "'k0'"))),
    (MetadataFiles.comments, """{"id":"row id","meta.lang":"language"}""",
      (log, t) => Comments.list(spark, log, t), Map("id" -> "row id", "meta.lang" -> "language")),
    (MetadataFiles.tblProperties, """{"graft.dml.mergeOnRead":"true","team":"ads"}""",
      (log, t) => TableProperties.list(spark, log, t),
      Map(TableProperties.MergeOnRead -> "true", "team" -> "ads")),
    (MetadataFiles.mv, mvJson,
      (log, t) => MaterializedView.readDef(spark, log, t),
      MaterializedView.MvDef(
        Seq("graft", "test", "src"), Some("f.x > 1"), Seq("g"),
        Seq(MaterializedView.AggSpec("count", "*", "cnt"), MaterializedView.AggSpec("sum", "x", "sx")),
        Seq(MaterializedView.JoinSpec(Seq("graft", "test", "dim"), "d", "f.k = d.k")),
        Some("f"), Seq("d.g"))))

  test("every family reads the stored JSON shape and writes it back unchanged") {
    formats.map(_._1.name) shouldBe (MetadataFiles.cloned :+ MetadataFiles.mv).map(_.name)
    formats.foreach { case (family, literal, read, expected) =>
      withClue(family.name) {
        val (ctx, log, t) = freshTable(s"fmt_${family.name}")
        carrying(log, t, Map(family.name -> literal))
        read(log, t) shouldBe expected
        // committing the value again carries the same JSON document
        def rewrite[A](f: MetadataFiles.Family[A]): Unit = {
          f.commit(spark, ctx.metastore, t, UpdateMessage("rewrite"), user)(identity)
          ()
        }
        rewrite(family)
        val carried = log.updates(t.name).head
        carried.message.content shouldBe "rewrite"
        json.readTree(carried.tableMetadata(family.name)) shouldBe json.readTree(literal)
      }
    }
  }

  test("every commit-carried family refuses a legacy sidecar file, naming it") {
    val schemaJson = new StructType().add("id", LongType).json
    def keyed(name: String): TableDefinition => String =
      t => s"_$name/${t.name.fullyQualifiedName}.json"
    // the files and shapes the earlier sidecar store wrote
    val legacy: List[(MetadataFiles.Family[_], TableDefinition => String, String,
        (InMemoryTableVersions, TableDefinition) => Any)] = List(
      (MetadataFiles.constraints, keyed("constraints"),
        """[{"name":"id_not_null","kind":"notnull","expr":"id"}]""",
        (log, t) => Constraints.list(spark, log, t)),
      (MetadataFiles.generated, _ => "_generated.json",
        """[{"column":"y","expr":"substring(date, 1, 4)"}]""",
        (log, t) => GeneratedColumns.list(spark, log, t)),
      (MetadataFiles.identity, keyed("identity"), """{"column":"rid"}""",
        (log, t) => IdentityColumns.declared(spark, log, t)),
      (MetadataFiles.defaults, keyed("defaults"), """[{"column":"kind","expr":"'k0'"}]""",
        (log, t) => ColumnDefaults.list(spark, log, t)),
      (MetadataFiles.comments, keyed("comments"), """{"id":"row id"}""",
        (log, t) => Comments.list(spark, log, t)),
      (MetadataFiles.tblProperties, keyed("tblproperties"), """{"team":"ads"}""",
        (log, t) => TableProperties.list(spark, log, t)),
      (MetadataFiles.mv, _ => "_mv.json", mvJson,
        (log, t) => MetadataFiles.mv.current(spark, log, t)),
      (MetadataFiles.columnMapping, _ => "_column_mapping.json",
        """[{"commit":"c1","table":"test.fmt","entries":[{"logical":"category","physical":"kind","dropped":false}]}]""",
        (log, t) => ColumnMapping.hasMapping(spark, log, t, None)),
      (MetadataFiles.partitioning, _ => "_partitioning.json",
        """[{"commit":"c1","columns":["region"]}]""",
        (log, t) => PartitionEvolution.schemeAt(spark, log, t, None)),
      (MetadataFiles.schemaStates, keyed("schema_states"),
        s"""[{"commit":"c1","schema":${json.writeValueAsString(schemaJson)}}]""",
        (log, t) => SchemaStates.at(spark, log, t, log.currentCommit(t.name))))
    legacy.map(_._1.name) shouldBe MetadataFiles.families.map(_.name)
    legacy.foreach { case (family, rel, literal, resolve) =>
      withClue(family.name) {
        val (_, log, t) = earlierTable(s"legacy_${family.name}")
        resolve(log, t) // no file, no value: resolves to nothing
        val p = sidecarPath(t, rel(t))
        plant(p, literal)
        val e = intercept[IllegalStateException](resolve(log, t))
        e.getMessage should include(p.toString)
        e.getMessage should include("no longer reads")
        // a table this version creates records that it declares nothing:
        // its declarations never consult (or refuse) a file
        if (MetadataFiles.cloned.contains(family)) {
          val (_, log2, t2) = freshTable(s"legacy_${family.name}_new")
          plant(sidecarPath(t2, rel(t2)), literal)
          noException should be thrownBy resolve(log2, t2)
        }
      }
    }
  }

  test("constraints, generated columns and identity read the legacy location-global file and migrate on the next DDL") {
    val (ctx, log, t) = earlierTable("legacy_decl")
    val files = List(
      "_constraints.json" -> """[{"name":"id_not_null","kind":"notnull","expr":"id"}]""",
      "_generated.json" -> """[{"column":"y","expr":"substring(date, 1, 4)"}]""",
      "_identity.json" -> """{"column":"rid"}""")
    files.foreach { case (rel, text) => plant(sidecarPath(t, rel), text) }
    // a legacy file is refused, naming it, while the log carries no value
    val readers: List[() => Any] = List(
      () => Constraints.list(spark, log, t),
      () => GeneratedColumns.list(spark, log, t),
      () => IdentityColumns.declared(spark, log, t))
    readers.zip(files).foreach { case (read, (rel, _)) =>
      intercept[IllegalStateException](read()).getMessage should include(rel)
    }
    intercept[IllegalStateException](
      Constraints.add(spark, ctx, t, Constraints.check("pos", "id > 0"), user))

    // the migration: move the files away, redo the declarations — each now
    // rides its commit, and a file put back is never consulted again
    val moved = files.map { case (rel, _) =>
      val local = Paths.get(sidecarPath(t, rel).toUri)
      val away = local.resolveSibling(rel + ".moved")
      Files.move(local, away)
      (local, away)
    }
    Constraints.add(spark, ctx, t, Constraints.notNull("id"), user)
    Constraints.add(spark, ctx, t, Constraints.check("pos", "id > 0"), user)
    GeneratedColumns.add(spark, ctx, t, GeneratedColumn("y", "substring(date, 1, 4)"), user)
    IdentityColumns.declare(spark, ctx, t, "rid", user)
    moved.foreach { case (local, away) => Files.move(away, local) }
    Constraints.list(spark, log, t).map(_.name) shouldBe List("id_not_null", "pos")
    GeneratedColumns.list(spark, log, t).map(_.column) shouldBe List("y")
    IdentityColumns.declared(spark, log, t) shouldBe Some("rid")
    // identity has no redeclaring DDL: a second declare refuses, and a
    // shallow clone inherits the declaration
    intercept[IllegalArgumentException](
      IdentityColumns.declare(spark, ctx, t, "id2", user)).getMessage should include("rid")
    val clone = ShallowClone.clone(spark, ctx, t, TableName("test", "legacy_decl_clone"), user)
    IdentityColumns.declared(spark, log, clone) shouldBe Some("rid")
  }

  test("two concurrent constraint adds both survive: the second blocks until the first publishes") {
    // the second add lands between the first's fold and its append: the
    // first loses the pointer CAS, re-folds, and re-applies its edit on
    // top of the second's
    val hooked = new HookedTableVersions(new InMemoryTableVersions)
    val ctx = VersionContext(VersionedMetastore(hooked, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("test", "lost_update"), Files.createTempDirectory("graft_lost_update").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    var raced = false
    hooked.beforeAppend = _ => {
      Constraints.add(spark, ctx, t, Constraints.check("pos", "id > 0"), user)
      raced = true
    }
    Constraints.add(spark, ctx, t, Constraints.notNull("id"), user)
    raced shouldBe true
    Constraints.list(spark, hooked, t).map(_.name) shouldBe List("pos", "id_not_null")
    hooked.updates(t.name).map(_.message.content).take(2) shouldBe List(
      "ADD CONSTRAINT id_not_null notnull (id)", "ADD CONSTRAINT pos check (id > 0)")
  }
}
