package graft.spark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class CopyIntoSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("copy-test")

  private def land(src: java.nio.file.Path, prefix: String, rows: Seq[(Long, String)]): Unit = {
    val tmp = Files.createTempDirectory("graft_copyspec_tmp")
    rows.toDF("id", "grp").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val stream = Files.list(tmp)
    try stream.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .zipWithIndex.foreach { case (p, i) =>
        Files.move(p, src.resolve(s"${prefix}_$i.parquet")); ()
      }
    finally stream.close()
  }

  test("ingest history survives a RESTORE: rolled-back loads are not re-ingested (the resurrect quirk makes their rows return with the next commit)") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("db", "copy_restore"),
      Files.createTempDirectory("graft_copyspec").toUri,
      PartitionSchema(List(PartitionColumn("grp"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    val src = Files.createTempDirectory("graft_copyspec_src")

    land(src, "b1", Seq((1L, "a"), (2L, "b")))
    CopyInto.ingest(spark, ctx, t, src.toString, "parquet", user)
      .ingestedFiles should have size 1
    val afterB1 = log.currentCommit(t.name)
    land(src, "b2", Seq((3L, "c")))
    CopyInto.ingest(spark, ctx, t, src.toString, "parquet", user)
      .ingestedFiles should have size 1

    // RESTORE past the second load: its rows leave the current state, but
    // the ingest RECORD deliberately survives — the commit-log fold quirk
    // (a later commit resurrects intermediate history) will bring the
    // rows back with the next commit, so re-ingesting would double-load
    log.setCurrentVersion(t.name, afterB1)
    VersionedReader(spark, log).read(t).count() shouldBe 2L
    val rerun = CopyInto.ingest(spark, ctx, t, src.toString, "parquet", user)
    rerun.ingestedFiles shouldBe empty
    rerun.skippedFiles should have size 2
    rerun.commit shouldBe None

    // the next ordinary load resurrects b2's partition alongside b3's
    land(src, "b3", Seq((4L, "d")))
    CopyInto.ingest(spark, ctx, t, src.toString, "parquet", user)
      .ingestedFiles should have size 1
    VersionedReader(spark, log).read(t)
      .select("id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L, 4L)
  }

  test("a COPY INTO that loses its commit race on a touched partition throws instead of dropping the other load") {
    val hooked = new HookedTableVersions(new InMemoryTableVersions)
    val ctx = VersionContext(VersionedMetastore(hooked, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("db", "copy_race"),
      Files.createTempDirectory("graft_copy_race").toUri,
      PartitionSchema(List(PartitionColumn("grp"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    def source(prefix: String, rows: Seq[(Long, String)]): String = {
      val src = Files.createTempDirectory(s"graft_copy_race_$prefix")
      land(src, prefix, rows)
      src.toString
    }
    CopyInto.ingest(spark, ctx, t, source("first", Seq((1L, "x"))), "parquet", user)
    val other = source("other", Seq((2L, "x")))
    // the other load lands inside this load's commit window, on its partition
    hooked.beforeAppend = _ => {
      CopyInto.ingest(spark, ctx, t, other, "parquet", user); ()
    }
    intercept[TableVersions.ConcurrentWriteException](
      CopyInto.ingest(spark, ctx, t, source("late", Seq((3L, "x"))), "parquet", user))
    VersionedReader(spark, hooked).read(t)
      .select("id").as[Long].collect().sorted shouldBe Array(1L, 2L)
  }

  test("reserved characters in source file names are rejected up front (history-format safety)") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("db", "copy_badname"),
      Files.createTempDirectory("graft_copy_badname").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    val src = Files.createTempDirectory("graft_copy_badname_src")
    land(src, "ok", Seq((1L, "a")))
    // a name carrying the history record's delimiters would corrupt the
    // files=[a;b;...] parse into wrong skip/re-ingest decisions
    val bad = src.resolve("evil;name].parquet")
    Files.copy(Files.list(src).toArray.head.asInstanceOf[java.nio.file.Path], bad)
    val e = the[IllegalArgumentException] thrownBy
      CopyInto.ingest(spark, ctx, t, src.toString, "parquet", user)
    e.getMessage should include("reserved character")
    log.updates(t.name).size shouldBe 1 // nothing ingested
  }

  test("an unrelated commit message mentioning files=[...] is not absorbed into the load history") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("db", "copy_absorb"),
      Files.createTempDirectory("graft_copy_absorb").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    val src = Files.createTempDirectory("graft_copy_absorb_src")
    land(src, "batch1", Seq((1L, "a"), (2L, "b")))
    // a free-text commit that happens to QUOTE a COPY INTO command — e.g. a
    // manual write whose message cites a runbook — must not mark its files
    // as already loaded
    Seq((99L, "z")).toDF("id", "grp").versionedInsertInto(ctx, t, user,
      UpdateMessage("manual load, see COPY INTO db.copy_absorb from /x files=[batch1_0.parquet]"))
    CopyInto.loadedFiles(log, t.name) shouldBe Set.empty
    val r = CopyInto.ingest(spark, ctx, t, src.toString, "parquet", user)
    r.ingestedFiles.size shouldBe 1 // batch1_0.parquet WAS ingested
    CopyInto.loadedFiles(log, t.name) shouldBe Set("batch1_0.parquet")
  }

  test("CSV COPY INTO refuses schema inference: an empty table with no declared schema errors loudly") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("db", "copy_csv_noschema"),
      Files.createTempDirectory("graft_copy_noschema").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    val src = Files.createTempDirectory("graft_copy_noschema_src")
    Files.writeString(src.resolve("a.csv"), "id,grp\n1,a\n2,b\n")
    val e = the[IllegalArgumentException] thrownBy
      CopyInto.ingest(spark, ctx, t, src.toString, "csv", user)
    e.getMessage should include("pinned schema")
    // with an explicit schema the same ingest lands, typed as declared
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("grp", org.apache.spark.sql.types.StringType)))
    val r = CopyInto.ingest(spark, ctx, t, src.toString, "csv", user,
      schema = Some(schema), options = Map("header" -> "true"))
    r.ingestedFiles.map(new org.apache.hadoop.fs.Path(_).getName) shouldBe Seq("a.csv")
    val read = VersionedReader(spark, log).read(t)
    read.schema("id").dataType shouldBe org.apache.spark.sql.types.LongType
    read.count() shouldBe 2L
  }

  test("a shallow clone carries the COPY INTO load history: no re-ingest of carried files") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("db", "copy_clone_src"),
      Files.createTempDirectory("graft_copy_clone").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    val src = Files.createTempDirectory("graft_copy_clone_land")
    land(src, "b1", Seq((1L, "a"), (2L, "b")))
    CopyInto.ingest(spark, ctx, t, src.toString, "parquet", user)
      .ingestedFiles should not be empty

    val clone = ShallowClone.clone(
      spark, ctx, t, TableName("db", "copy_clone_dst"), user)
    CopyInto.loadedFiles(log, clone.name) shouldBe CopyInto.loadedFiles(log, t.name)

    // re-running against the same landing dir skips everything (the rows
    // are already in the cloned data); a NEW file ingests incrementally
    val rerun = CopyInto.ingest(spark, ctx, clone, src.toString, "parquet", user)
    rerun.ingestedFiles shouldBe empty
    land(src, "b2", Seq((3L, "c")))
    val incr = CopyInto.ingest(spark, ctx, clone, src.toString, "parquet", user)
    incr.ingestedFiles.map(new org.apache.hadoop.fs.Path(_).getName) shouldBe Seq("b2_0.parquet")
    VersionedReader(spark, log).read(clone).count() shouldBe 3L
    // the source is untouched by the clone's ingest
    VersionedReader(spark, log).read(t).count() shouldBe 2L
  }

  test("a RELATIVE landing dir still keys nested same-named files distinctly (qualified relativization)") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("db", "copy_relative"),
      Files.createTempDirectory("graft_copyspec_rel_tbl").toUri,
      PartitionSchema(List(PartitionColumn("grp"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))

    // landing dir addressed RELATIVE to the working dir: before the fix,
    // relativization missed (qualified statuses vs unqualified base) and
    // every nested file fell back to its BARE NAME — a/part.parquet and
    // b/part.parquet shared one load key and the second was silently
    // skipped as already loaded
    val cwd = java.nio.file.Paths.get(".").toAbsolutePath.normalize
    val abs = Files.createTempDirectory(
      java.nio.file.Files.createDirectories(cwd.resolve("target/tmp-copyrel")),
      "landing")
    val rel = cwd.relativize(abs).toString
    val subA = Files.createDirectory(abs.resolve("a"))
    val subB = Files.createDirectory(abs.resolve("b"))
    def landNamed(dir: java.nio.file.Path, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_copyspec_rel_tmp")
      rows.toDF("id", "grp").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val stream = Files.list(tmp)
      try stream.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach { p => Files.move(p, dir.resolve("part.parquet")); () }
      finally stream.close()
    }
    landNamed(subA, Seq((1L, "a"), (2L, "a")))
    landNamed(subB, Seq((3L, "b")))

    val r = CopyInto.ingest(
      spark, ctx, t, rel, "parquet", user, pattern = Some("*/*.parquet"))
    r.ingestedFiles should have size 2
    r.rows shouldBe 3L
    VersionedReader(spark, log).read(t).count() shouldBe 3L

    // both keys recorded distinctly: a re-run ingests nothing
    val rerun = CopyInto.ingest(
      spark, ctx, t, rel, "parquet", user, pattern = Some("*/*.parquet"))
    rerun.ingestedFiles shouldBe empty
    // and the ABSOLUTE spelling of the same dir resolves the same keys
    val again = CopyInto.ingest(
      spark, ctx, t, abs.toString, "parquet", user, pattern = Some("*/*.parquet"))
    again.ingestedFiles shouldBe empty
  }
}
