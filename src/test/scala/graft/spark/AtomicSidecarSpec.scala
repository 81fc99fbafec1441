package graft.spark

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.GeneratedColumns.GeneratedColumn
import graft.spark.VersionContext.DatasetVersionOps

/** The metadata-file store ([[MetadataFiles]]): crash safety of its
  * atomic publish, the on-disk shapes every family reads, the legacy
  * location-global fallback, and the locked update.
  *
  * The crash this guards against: a writer that dies between truncating
  * a metadata file and finishing the new content leaves torn JSON, and
  * every later metadata resolution throws until the file is hand-repaired.
  * A crash at the store's before-publish seam (temp file written, publish
  * move not yet done) must leave the PREVIOUS state fully readable.
  */
class AtomicSidecarSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("atomic-test")
  private def conf = spark.sessionState.newHadoopConf()
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

  private def sidecarPath(table: TableDefinition, rel: String): Path =
    new Path(Partition.normalizedDir(table.location).toString + rel)

  private def crash[A](body: => A): Unit = {
    val boom = intercept[RuntimeException] {
      MetadataFiles.beforePublishForTest.withValue(_ => throw new RuntimeException("crash"))(body)
    }
    boom.getMessage shouldBe "crash"
  }

  /** Simulate a crash mid-update of `p`: the new content is staged but the
    * process dies before publish. `p` must be unchanged. */
  private def crashWrite(p: Path): Unit = crash(MetadataFiles.publish(conf, p, "{\"torn\":"))

  private def readText(p: Path): String = {
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Write `text` where a family keeps `table`'s file, bypassing the store. */
  private def plant(p: Path, text: String): Unit = {
    val local = Paths.get(p.toUri)
    Files.createDirectories(local.getParent)
    Files.write(local, text.getBytes("UTF-8"))
    MetadataFiles.invalidateMemo()
  }

  // ---------------- helper-level properties ----------------

  test("writeUtf8 creates a new file and round-trips through the checksummed local FS") {
    val dir = Files.createTempDirectory("graft_atomic_new")
    val p = new Path(dir.toUri.toString + "/state.json")
    MetadataFiles.publish(conf, p, """{"v":1}""")
    readText(p) shouldBe """{"v":1}"""
  }

  test("writeUtf8 atomically replaces a file written by the old in-place writer (stale .crc dropped)") {
    val dir = Files.createTempDirectory("graft_atomic_crc")
    val p = new Path(dir.toUri.toString + "/state.json")
    // old-style write through the CHECKSUMMED local FS: leaves state.json + .state.json.crc
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write("""{"v":1}""".getBytes("UTF-8")) finally out.close()
    Files.exists(java.nio.file.Paths.get(dir.toString, ".state.json.crc")) shouldBe true

    MetadataFiles.publish(conf, p, """{"v":2}""")
    // a read through the SAME checksummed FS must not fail verification
    readText(p) shouldBe """{"v":2}"""
  }

  test("a crash between staging and publish leaves the previous content intact") {
    val dir = Files.createTempDirectory("graft_atomic_crash")
    val p = new Path(dir.toUri.toString + "/state.json")
    MetadataFiles.publish(conf, p, """{"v":1}""")
    crashWrite(p)
    readText(p) shouldBe """{"v":1}"""
    // and the writer recovers on retry: the orphaned temp never blocks
    MetadataFiles.publish(conf, p, """{"v":3}""")
    readText(p) shouldBe """{"v":3}"""
  }

  // ---------------- per-module crash tests ----------------

  test("column mapping survives a torn update: previous rename still resolves") {
    val (ctx, log, table) = freshTable("atomic_map")
    Seq((1L, "k1", "2024-01-01")).toDF("id", "kind", "date")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    ColumnMapping.rename(spark, ctx, table, "kind", "category", user)
    crashWrite(sidecarPath(table, "_column_mapping.json"))
    val st = ColumnMapping.stateAt(spark, log, table, None)
    st.isDefined shouldBe true
    st.get.entries.exists(e => e.logical == "category" && e.physical == "kind") shouldBe true
  }

  test("constraints survive a torn update") {
    val (ctx, _, table) = freshTable("atomic_cons")
    Constraints.add(spark, ctx, table, Constraints.notNull("id"), user)
    crashWrite(sidecarPath(table, s"_constraints/${table.name.fullyQualifiedName}.json"))
    Constraints.list(spark, table).map(_.name) shouldBe List("id_not_null")
  }

  test("generated columns survive a torn update") {
    val (ctx, _, table) = freshTable("atomic_gen")
    GeneratedColumns.add(spark, ctx, table, GeneratedColumn("y", "substring(date, 1, 4)"), user)
    crashWrite(sidecarPath(table, s"_generated/${table.name.fullyQualifiedName}.json"))
    GeneratedColumns.list(spark, table).map(_.column) shouldBe List("y")
  }

  test("identity declaration survives a torn update") {
    val (ctx, _, table) = freshTable("atomic_id")
    IdentityColumns.declare(spark, ctx, table, "id", user)
    crashWrite(sidecarPath(table, s"_identity/${table.name.fullyQualifiedName}.json"))
    IdentityColumns.declared(spark, table) shouldBe Some("id")
  }

  test("partition-scheme era registry survives a torn update") {
    val (_, log, table) = freshTable("atomic_evo")
    val anchor = log.currentCommit(table.name)
    PartitionEvolution.cloneStateTo(
      spark, table,
      PartitionEvolution.SchemeState("src-commit", List("region"), None),
      anchor, table.name)
    crashWrite(sidecarPath(table, "_partitioning.json"))
    val st = PartitionEvolution.states(spark, table)
    st.map(_.columns) shouldBe List(List("region"))
  }

  test("materialized-view definition survives a torn update") {
    val dir = Files.createTempDirectory("graft_atomic_mv")
    val mv = TableDefinition(
      TableName("test", "atomic_mv"), dir.toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    MetadataFiles.publish(
      conf, sidecarPath(mv, "_mv.json"),
      """{"source":"graft.test.src","group":["g"],"aggs":[{"fn":"count","input":"*","alias":"cnt"}]}""")
    crashWrite(sidecarPath(mv, "_mv.json"))
    val d = MaterializedView.readDef(spark, mv)
    d.sourceParts shouldBe Seq("graft", "test", "src")
    d.aggs.map(_.alias) shouldBe Seq("cnt")
  }

  // ---------------- every family, table-driven ----------------

  private val mvJson =
    """{"source":"graft.test.src","factAlias":"f","where":"f.x > 1","group":["g"],""" +
      """"aggs":[{"fn":"count","input":"*","alias":"cnt"},{"fn":"sum","input":"x","alias":"sx"}],""" +
      """"joins":[{"dim":"graft.test.dim","alias":"d","on":"f.k = d.k"}],"groupRefs":["d.g"]}"""

  /** One row per family: a first change through the family's public
    * writer, and the family's public reader. */
  private final case class Row(
      family: MetadataFiles.Family[_],
      write: (VersionContext, InMemoryTableVersions, TableDefinition) => Unit,
      read: TableDefinition => Any)

  private val rows: List[Row] = List(
    Row(MetadataFiles.constraints,
      (ctx, _, t) => Constraints.add(spark, ctx, t, Constraints.notNull("id"), user),
      t => Constraints.list(spark, t)),
    Row(MetadataFiles.generated,
      (ctx, _, t) => GeneratedColumns.add(
        spark, ctx, t, GeneratedColumn("y", "substring(date, 1, 4)"), user),
      t => GeneratedColumns.list(spark, t)),
    Row(MetadataFiles.identity,
      (ctx, _, t) => IdentityColumns.declare(spark, ctx, t, "id", user),
      t => IdentityColumns.declared(spark, t)),
    Row(MetadataFiles.defaults,
      (ctx, _, t) => ColumnDefaults.set(spark, ctx, t, "kind", "'k0'", user),
      t => ColumnDefaults.list(spark, t)),
    Row(MetadataFiles.comments,
      (ctx, _, t) => Comments.set(spark, ctx, t, "id", Some("row id"), user),
      t => Comments.list(spark, t)),
    Row(MetadataFiles.tblProperties,
      (ctx, _, t) => TableProperties.set(
        spark, ctx, t, Map(TableProperties.MergeOnRead -> "true"), user),
      t => TableProperties.list(spark, t)),
    Row(MetadataFiles.schemaStates,
      (_, log, t) => {
        val at = log.currentCommit(t.name)
        val narrow = new StructType().add("id", LongType)
        SchemaStates.record(spark, t, narrow, at, narrow.add("kind", StringType), at)
      },
      t => SchemaStates.list(spark, t)),
    Row(MetadataFiles.columnMapping,
      (ctx, _, t) => {
        Seq((1L, "k1", "2024-01-01")).toDF("id", "kind", "date")
          .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
        ColumnMapping.rename(spark, ctx, t, "kind", "category", user)
      },
      t => ColumnMapping.states(spark, t)),
    Row(MetadataFiles.partitioning,
      (_, log, t) => PartitionEvolution.cloneStateTo(
        spark, t, PartitionEvolution.SchemeState("src", List("region")),
        log.currentCommit(t.name), t.name),
      t => PartitionEvolution.states(spark, t)),
    Row(MetadataFiles.mv,
      (_, _, t) => { MetadataFiles.mv.update(spark, t)(_ => json.readTree(mvJson)); () },
      t => MaterializedView.readDef(spark, t)))

  test("every metadata family survives a crash before publish, read through its own reader") {
    rows.map(_.family.name) shouldBe MetadataFiles.families.map(_.name)
    rows.foreach { r =>
      withClue(r.family.name) {
        val (ctx, log, t) = freshTable(s"atomic_all_${r.family.name}")
        r.write(ctx, log, t)
        val before = r.read(t)
        def emptied[A](f: MetadataFiles.Family[A]): Unit = { f.update(spark, t)(_ => f.empty); () }
        crash(emptied(r.family))
        MetadataFiles.invalidateMemo() // the memoized families must re-read the file
        r.read(t) shouldBe before
        // the crash left only a temp file, which VACUUM reclaims
        val report = Vacuum.vacuum(t, log, conf, graceMs = 0)
        report.deleted.count(_.contains(".tmp-")) shouldBe 1
        r.read(t) shouldBe before
      }
    }
  }

  // ---------------- on-disk format ----------------

  private val schemaJson = new StructType().add("id", LongType).json

  /** One literal per family in the exact shape the hand-written codecs
    * stored, and the value its public reader must return. */
  private val formats: List[(MetadataFiles.Family[_], String, TableDefinition => Any, Any)] = List(
    (MetadataFiles.constraints,
      """[{"name":"id_not_null","kind":"notnull","expr":"id"},{"name":"pos","kind":"check","expr":"id > 0"}]""",
      t => Constraints.list(spark, t),
      List(Constraints.notNull("id"), Constraints.check("pos", "id > 0"))),
    (MetadataFiles.generated,
      """[{"column":"y","expr":"substring(date, 1, 4)","zone":"UTC","type":"string"},""" +
        """{"column":"m","expr":"substring(date, 1, 7)"}]""",
      t => GeneratedColumns.list(spark, t),
      List(GeneratedColumn("y", "substring(date, 1, 4)", Some("UTC"), Some("string")),
        GeneratedColumn("m", "substring(date, 1, 7)"))),
    (MetadataFiles.identity, """{"column":"rid"}""",
      t => IdentityColumns.declared(spark, t), Some("rid")),
    (MetadataFiles.defaults, """[{"column":"kind","expr":"'k0'"}]""",
      t => ColumnDefaults.list(spark, t), List(ColumnDefaults.ColumnDefault("kind", "'k0'"))),
    (MetadataFiles.comments, """{"id":"row id","meta.lang":"language"}""",
      t => Comments.list(spark, t), Map("id" -> "row id", "meta.lang" -> "language")),
    (MetadataFiles.tblProperties, """{"graft.dml.mergeOnRead":"true","team":"ads"}""",
      t => TableProperties.list(spark, t),
      Map(TableProperties.MergeOnRead -> "true", "team" -> "ads")),
    (MetadataFiles.schemaStates,
      s"""[{"commit":"c1","schema":${json.writeValueAsString(schemaJson)}}]""",
      t => SchemaStates.list(spark, t), List(SchemaStates.State("c1", schemaJson))),
    (MetadataFiles.columnMapping,
      """[{"commit":"c1","table":"test.fmt","entries":[{"logical":"category","physical":"kind","dropped":false},""" +
        """{"logical":"n","physical":"n","dropped":true,"widened":"bigint"}]},{"commit":"c2","entries":[]}]""",
      t => ColumnMapping.states(spark, t),
      List(
        ColumnMapping.State("c1", List(
          ColumnMapping.Entry("category", "kind", dropped = false),
          ColumnMapping.Entry("n", "n", dropped = true, Some("bigint"))), Some("test.fmt")),
        ColumnMapping.State("c2", Nil))),
    (MetadataFiles.partitioning,
      """[{"commit":"c1","table":"test.fmt","pending":true,"columns":["region"]},""" +
        """{"commit":"c2","columns":["date","region"]}]""",
      t => PartitionEvolution.states(spark, t),
      List(
        PartitionEvolution.SchemeState("c1", List("region"), Some("test.fmt"), pending = true),
        PartitionEvolution.SchemeState("c2", List("date", "region")))),
    (MetadataFiles.mv, mvJson,
      t => MaterializedView.readDef(spark, t),
      MaterializedView.MvDef(
        Seq("graft", "test", "src"), Some("f.x > 1"), Seq("g"),
        Seq(MaterializedView.AggSpec("count", "*", "cnt"), MaterializedView.AggSpec("sum", "x", "sx")),
        Seq(MaterializedView.JoinSpec(Seq("graft", "test", "dim"), "d", "f.k = d.k")),
        Some("f"), Seq("d.g"))))

  test("every family reads the stored JSON shape and writes it back unchanged") {
    formats.map(_._1.name) shouldBe MetadataFiles.families.map(_.name)
    formats.foreach { case (family, literal, read, expected) =>
      withClue(family.name) {
        val (_, _, t) = freshTable(s"fmt_${family.name}")
        val p = family.path(t)
        plant(p, literal)
        read(t) shouldBe expected
        // publishing the value again writes the same JSON document
        def rewrite[A](f: MetadataFiles.Family[A]): Unit = {
          val v = f.read(spark, t)
          Files.delete(Paths.get(p.toUri))
          f.update(spark, t)(_ => v)
          ()
        }
        rewrite(family)
        json.readTree(readText(p)) shouldBe json.readTree(literal)
      }
    }
  }

  test("constraints, generated columns and identity read the legacy location-global file and migrate on the next DDL") {
    val (ctx, _, t) = freshTable("legacy_decl")
    plant(sidecarPath(t, "_constraints.json"),
      """[{"name":"id_not_null","kind":"notnull","expr":"id"}]""")
    plant(sidecarPath(t, "_generated.json"), """[{"column":"y","expr":"substring(date, 1, 4)"}]""")
    plant(sidecarPath(t, "_identity.json"), """{"column":"rid"}""")
    Constraints.list(spark, t) shouldBe List(Constraints.notNull("id"))
    GeneratedColumns.list(spark, t).map(_.column) shouldBe List("y")
    IdentityColumns.declared(spark, t) shouldBe Some("rid")
    Seq(MetadataFiles.constraints, MetadataFiles.generated, MetadataFiles.identity)
      .foreach(f => Files.exists(Paths.get(f.path(t).toUri)) shouldBe false)

    // the next DDL writes the keyed file from the effective (legacy) list
    Constraints.add(spark, ctx, t, Constraints.check("pos", "id > 0"), user)
    GeneratedColumns.add(spark, ctx, t, GeneratedColumn("m", "substring(date, 1, 7)"), user)
    Constraints.list(spark, t).map(_.name) shouldBe List("id_not_null", "pos")
    GeneratedColumns.list(spark, t).map(_.column) shouldBe List("y", "m")
    Seq(MetadataFiles.constraints, MetadataFiles.generated)
      .foreach(f => Files.exists(Paths.get(f.path(t).toUri)) shouldBe true)
    // identity has no redeclaring DDL: the legacy declaration is honored
    // (a second declare refuses) and a shallow clone inherits it
    intercept[IllegalArgumentException](
      IdentityColumns.declare(spark, ctx, t, "id2", user)).getMessage should include("rid")
    val clone = ShallowClone.clone(spark, ctx, t, TableName("test", "legacy_decl_clone"), user)
    IdentityColumns.declared(spark, clone) shouldBe Some("rid")
  }

  test("two concurrent constraint adds both survive: the second blocks until the first publishes") {
    val (ctx, _, t) = freshTable("lost_update")
    val secondDone = new AtomicBoolean(false)
    @volatile var secondSaw: List[String] = Nil
    @volatile var blockedWhileHeld = false
    var second: Thread = null
    val startSecond: Path => Unit = _ =>
      if (second == null) {
        second = new Thread(() => {
          // the second writer records what is on disk when it reaches its
          // own publish: the first writer's edit must already be there
          MetadataFiles.beforePublishForTest.withValue(_ =>
            secondSaw = MetadataFiles.constraints.read(spark, t).map(_.name)) {
            Constraints.add(spark, ctx, t, Constraints.check("pos", "id > 0"), user)
          }
          secondDone.set(true)
        })
        second.start()
        Thread.sleep(500) // the second add reaches the lock and waits
        blockedWhileHeld = !secondDone.get()
      }
    MetadataFiles.beforePublishForTest.withValue(startSecond) {
      Constraints.add(spark, ctx, t, Constraints.notNull("id"), user)
    }
    second.join(60000)
    secondDone.get() shouldBe true
    blockedWhileHeld shouldBe true
    secondSaw shouldBe List("id_not_null")
    Constraints.list(spark, t).map(_.name).toSet shouldBe Set("id_not_null", "pos")
  }
}
