package graft.spark

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.types.{Metadata, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{CommitId, TableOperation, TableUpdate, UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/** The commit line's data-schema record ([[DataSchema]]): at every commit
  * it equals what the footers of the state's files say, reads take it
  * instead of running the footer-inference job, and a log without one
  * still infers. */
class SchemaRecordSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._
  import TestSpark.jobs
  private val user = UserId("schema-record")
  private val cat = "recordcat"

  private val log = JsonFileTableVersions(Files.createTempDirectory("graft_record_log").toString)
  private val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
  spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
  GraftTableCatalog.bind(cat, ctx.metastore)

  private def table(
      name: String, parts: Seq[String], format: FileFormat = FileFormat.Parquet): TableDefinition = {
    val t = TableDefinition(
      TableName("db", name), Files.createTempDirectory(s"graft_record_$name").toUri,
      if (parts.isEmpty) PartitionSchema.snapshot
      else PartitionSchema(parts.map(PartitionColumn(_)).toList),
      format)
    ctx.init(t, user, UpdateMessage("init"))
    GraftTableCatalog.register(cat, t)
    t
  }

  private def sqlName(t: TableDefinition): String = s"$cat.db.${t.name.name}"
  private def head(t: TableDefinition): CommitId = log.currentCommit(t.name)

  /** The state's version dirs at `at`, in the order a read lists them. */
  private def dirs(lg: TableVersions, t: TableDefinition, at: CommitId): Seq[String] =
    lg.versionAt(t.name, at) match {
      case SnapshotTableVersion(v) if v == Version.Unversioned => Nil
      case SnapshotTableVersion(v) => Seq(VersionPaths.pathFor(t.location, v).toString)
      case PartitionedTableVersion(pvs) =>
        pvs.toSeq.map { case (p, v) => SparkPaths.dirFor(t.location, p, v) }.sorted
    }

  /** Stock footer inference over those dirs: one footer (what a catalog
    * load, `typed`, and a reader load inferred before the record) or the
    * union of all of them (`merge`). */
  private def inferred(
      t: TableDefinition, at: CommitId, typed: Boolean, merge: Boolean = false,
      lg: TableVersions = log): StructType =
    SessionConf.withConf(
      spark, "spark.sql.sources.partitionColumnTypeInference.enabled", typed.toString) {
      val r = spark.read.format(t.format.name).option("mergeSchema", merge.toString)
      (if (t.isSnapshot) r else r.option("basePath", t.location.toString))
        .load(dirs(lg, t, at): _*).schema
    }

  /** Names, types, nullability and order. */
  private def shape(s: StructType): StructType = StructType(s.map(_.copy(metadata = Metadata.empty)))

  private def dataCols(t: TableDefinition, s: StructType): StructType =
    StructType(s.filterNot(f => t.partitionSchema.columns.exists(_.name.equalsIgnoreCase(f.name))))

  private def record(t: TableDefinition, at: Option[CommitId] = None): StructType =
    DataSchema.at(spark, log, t, at).getOrElse(fail(s"no schema record for ${t.name.name}"))

  /** Every commit holding files: the record is the footer union of the
    * state's files; when those agree (`uniform`), the catalog and the
    * reader serve exactly what single-footer inference served. */
  private def checkEveryCommit(t: TableDefinition, uniform: Boolean = true): Unit = {
    val commits = log.updates(t.name).map(_.id)
    commits.filter(c => dirs(log, t, c).nonEmpty).foreach { c =>
      withClue(s"${t.name.name} @ commit ${commits.size - commits.indexOf(c)}: ") {
        shape(record(t, Some(c))) shouldBe
          shape(dataCols(t, inferred(t, c, typed = false, merge = true)))
        if (uniform) {
          shape(spark.sql(s"SELECT * FROM ${sqlName(t)} VERSION AS OF '${c.id}'").schema) shouldBe
            shape(inferred(t, c, typed = true))
          shape(VersionedReader(spark, log).readAsOf(t, c).schema) shouldBe
            shape(inferred(t, c, typed = false))
        }
      }
    }
    if (uniform) {
      shape(spark.table(sqlName(t)).schema) shouldBe shape(inferred(t, head(t), typed = true))
      shape(VersionedReader(spark, log).read(t).schema) shouldBe
        shape(inferred(t, head(t), typed = false))
    }
  }

  test("partitioned tables with int, string and date partition values serve the inferred schema at every commit") {
    Seq(
      "part_int" -> Seq("1", "2", "3"),
      "part_str" -> Seq("a", "b", "c"),
      "part_date" -> Seq("2024-01-01", "2024-01-02", "2024-02-01"),
      // values stop parsing as int: the partition column types as string
      "part_mixed" -> Seq("1", "2", "x")).foreach { case (name, values) =>
      val t = table(name, Seq("p"))
      values.foreach { v =>
        Seq((1L, "a", 1.5, v), (2L, "b", 2.5, v)).toDF("id", "label", "x", "p")
          .versionedInsertInto(ctx, t, user, UpdateMessage(s"p=$v"))
      }
      checkEveryCommit(t)
    }
    spark.table(s"$cat.db.part_int").schema("p").dataType.typeName shouldBe "integer"
    spark.table(s"$cat.db.part_date").schema("p").dataType.typeName shouldBe "date"
    spark.table(s"$cat.db.part_mixed").schema("p").dataType.typeName shouldBe "string"
  }

  test("a snapshot table and an ORC table serve the inferred schema at every commit") {
    val snap = table("snap", Nil)
    spark.sql("SELECT 1L AS id, named_struct('a', 1, 'b', 'x') AS s, array(1.5D) AS xs")
      .versionedInsertInto(ctx, snap, user, UpdateMessage("v1"))
    spark.sql("SELECT 2L AS id, named_struct('a', 2, 'b', 'y') AS s, array(2.5D) AS xs")
      .versionedInsertInto(ctx, snap, user, UpdateMessage("v2"))
    // a snapshot replaced by other columns records exactly those
    Seq((3L, "c")).toDF("id", "label").versionedInsertInto(ctx, snap, user, UpdateMessage("v3"))
    record(snap).fieldNames shouldBe Array("id", "label")
    checkEveryCommit(snap)

    val orc = table("orc", Seq("p"), FileFormat.Orc)
    Seq((1L, "a", "x")).toDF("id", "label", "p").versionedInsertInto(ctx, orc, user, UpdateMessage("v1"))
    Seq((2L, "b", "y")).toDF("id", "label", "p").versionedInsertInto(ctx, orc, user, UpdateMessage("v2"))
    checkEveryCommit(orc)
  }

  test("schema-changing DDL, MERGE autoMerge and COPY INTO evolution keep the record equal to the footers") {
    val t = table("evolve", Seq("p"))
    def sql(s: String) = spark.sql(s)
    val name = sqlName(t)
    Seq((1L, "base", 1, "a"), (2L, "base", 2, "b")).toDF("id", "kind", "n", "p")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val plainWrites = log.updates(t.name).size
    // metadata-only DDL leaves the files, and the record, as they were
    sql(s"ALTER TABLE $name ADD COLUMN score DOUBLE")
    record(t).fieldNames shouldBe Array("id", "kind", "n")
    sql(s"INSERT INTO $name (id, kind, n, p, score) VALUES (3, 'ins', 3, 'a', 0.5)")
    record(t).fieldNames shouldBe Array("id", "kind", "n", "score")
    Seq((2L, "upd", 2, "b", 0.7, 9.0)).toDF("id", "kind", "n", "p", "score", "weight")
      .createOrReplaceTempView("record_merge_src")
    spark.conf.set("spark.graft.dml.autoMergeSchema", "true")
    try {
      sql(s"""MERGE INTO $name t USING record_merge_src s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      record(t).fieldNames shouldBe Array("id", "kind", "n", "score", "weight")
      val src = Files.createTempDirectory("graft_record_copy").resolve("in").toString
      Seq((4L, "copy", 4, "c", 0.1, 1.0, "e")).toDF("id", "kind", "n", "p", "score", "weight", "extra")
        .write.parquet(src)
      sql(s"COPY INTO $name FROM '$src' FILEFORMAT = PARQUET")
    } finally spark.conf.unset("spark.graft.dml.autoMergeSchema")
    record(t).fieldNames shouldBe Array("id", "kind", "n", "score", "weight", "extra")
    val beforeDdl = record(t)
    sql(s"ALTER TABLE $name RENAME COLUMN kind TO category")
    sql(s"ALTER TABLE $name DROP COLUMN extra")
    sql(s"ALTER TABLE $name ALTER COLUMN weight FIRST")
    sql(s"ALTER TABLE $name ALTER COLUMN n TYPE BIGINT")
    record(t) shouldBe beforeDdl
    log.updates(t.name).size should be > plainWrites + 6
    checkEveryCommit(t, uniform = false)
    spark.table(name).count() shouldBe 4L
  }

  test("ADD COLUMN then RESTORE, and ADD COLUMN then rollback and append, resolve the record of the state served") {
    val t = table("restored", Seq("p"))
    val name = sqlName(t)
    Seq((1L, "a", "x")).toDF("id", "label", "p").versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val before = head(t)
    spark.sql(s"ALTER TABLE $name ADD COLUMN score DOUBLE")
    spark.sql(s"INSERT INTO $name (id, label, p, score) VALUES (2, 'b', 'y', 2.0)")
    record(t).fieldNames shouldBe Array("id", "label", "score")
    spark.sql(s"RESTORE TABLE $name TO VERSION AS OF '${before.id}'")
    record(t).fieldNames shouldBe Array("id", "label")
    checkEveryCommit(t, uniform = false)

    val r = table("rollback", Seq("p"))
    Seq((1L, "a", "x")).toDF("id", "label", "p").versionedInsertInto(ctx, r, user, UpdateMessage("v1"))
    val c1 = head(r)
    spark.sql(s"ALTER TABLE ${sqlName(r)} ADD COLUMN score DOUBLE")
    spark.sql(s"INSERT INTO ${sqlName(r)} (id, label, p, score) VALUES (2, 'b', 'y', 2.0)")
    log.setCurrentVersion(r.name, c1)
    record(r).fieldNames shouldBe Array("id", "label")
    // the append resurrects the rolled-back commits, their dirs and record
    Seq((3L, "c", "z")).toDF("id", "label", "p").versionedInsertInto(ctx, r, user, UpdateMessage("v3"))
    record(r).fieldNames shouldBe Array("id", "label", "score")
    checkEveryCommit(r, uniform = false)
  }

  test("a log checkpoint keeps the record on its base commit, and a shallow clone carries it") {
    val t = table("ckpt", Seq("p"))
    Seq((1L, "a", "x")).toDF("id", "label", "p").versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    Seq((2L, "b", "y", 2.0)).toDF("id", "label", "p", "score")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v2"))
    Seq((3L, "c", "z", 3.0)).toDF("id", "label", "p", "score")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v3"))
    val want = record(t)
    log.checkpoint(t.name, keepLast = 1) shouldBe true
    log.updates(t.name) should have size 2
    record(t) shouldBe want
    checkEveryCommit(t, uniform = false)

    val clone = ShallowClone.clone(spark, ctx, t, TableName("db", "ckpt_clone"), user)
    GraftTableCatalog.register(cat, clone)
    record(clone) shouldBe want
    checkEveryCommit(clone, uniform = false)
  }

  test("a deep clone records its files' schema, by byte copy and by rewriting its rows") {
    val t = table("deep_src", Seq("p"))
    Seq((1L, "a", "x")).toDF("id", "label", "p").versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    Seq((2L, "b", "y", 2.0)).toDF("id", "label", "p", "score")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v2"))
    val raw = DeepClone.clone(spark, ctx, t, TableName("db", "deep_raw"),
      Files.createTempDirectory("graft_record_deep_raw").toUri, user)
    record(raw) shouldBe record(t)
    // an overlay row sends the clone down the row-rewriting path
    Seq((3L, "c", "x", 3.0)).toDF("id", "label", "p", "score")
      .versionedAppendInto(ctx, t, user, UpdateMessage("mor"))
    val rows = DeepClone.clone(spark, ctx, t, TableName("db", "deep_rows"),
      Files.createTempDirectory("graft_record_deep_rows").toUri, user)
    GraftTableCatalog.register(cat, rows)
    record(rows).fieldNames shouldBe Array("id", "label", "score")
    checkEveryCommit(rows)
  }

  test("over heterogeneous files a plain read serves every column some file holds; a mergeSchema read still unions the footers") {
    val t = table("hetero", Seq("p"))
    Seq((1L, "a", "x")).toDF("id", "a", "p").versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    Seq((2L, "b", "y")).toDF("id", "b", "p").versionedInsertInto(ctx, t, user, UpdateMessage("v2"))
    val reader = VersionedReader(spark, log)
    // the choice: the record keeps the columns of every live dir, where a
    // single-footer inference served only the first dir's
    record(t).fieldNames shouldBe Array("id", "a", "b")
    inferred(t, head(t), typed = false).fieldNames shouldBe Array("id", "a", "p")
    shape(reader.read(t).schema) shouldBe shape(inferred(t, head(t), typed = false, merge = true))
    reader.read(t).where($"p" === "y").select("a", "b").as[(Option[String], Option[String])]
      .collect() shouldBe Array((None, Some("b")))
    // pinned: an explicit mergeSchema read unions the footers, as before
    shape(reader.readMergedSchema(t).schema) shouldBe
      shape(inferred(t, head(t), typed = false, merge = true))
    checkEveryCommit(t, uniform = false)
  }

  test("the metadata-only DELETE, a point read, VERSION AS OF and table_changes plan with no Spark job") {
    val t = table("jobs", Seq("day"))
    (0 until 4).foreach { d =>
      Seq((d.toLong, 10L * d, d)).toDF("id", "amount", "day")
        .versionedInsertInto(ctx, t, user, UpdateMessage(s"day $d"))
    }
    val commits = log.updates(t.name).map(_.id.id)
    val name = sqlName(t)
    jobs(spark.sql(s"SELECT count(*), sum(amount) FROM $name WHERE day = 2")
      .queryExecution.optimizedPlan) shouldBe 0
    jobs(spark.sql(s"SELECT count(*), sum(amount) FROM $name VERSION AS OF '${commits(2)}'")
      .queryExecution.optimizedPlan) shouldBe 0
    jobs(spark.sql(
      s"SELECT _change_type, count(*) FROM table_changes('$name', '${commits(1)}', '${commits.head}') " +
        "GROUP BY _change_type").queryExecution.optimizedPlan) shouldBe 0
    jobs(spark.sql(s"DELETE FROM $name WHERE day = 1")) shouldBe 0
    spark.sql(s"SELECT day FROM $name").as[Int].collect().sorted shouldBe Array(0, 2, 3)
  }

  test("a table with a live vector serves a metadata-only ADD COLUMN as NULL, with no footer job") {
    val t = table("dv_add_column", Seq("day"))
    Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).toDF("id", "label", "day")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    DeletionVectors.delete(
      ctx, log, t, org.apache.spark.sql.functions.col("id") === 2L, user, UpdateMessage("dv"))
    val name = sqlName(t)
    def plan() = spark.sql(s"SELECT * FROM $name").queryExecution.optimizedPlan
    plan()
    val before = jobs(plan())
    spark.sql(s"ALTER TABLE $name ADD COLUMN score DOUBLE")
    // the state's record holds no `score`, and no file does: planning the
    // read runs the jobs it ran before the DDL, and no footer union
    jobs(plan()) shouldBe before
    val q = spark.sql(s"SELECT id, label, score FROM $name")
    q.schema("score").dataType shouldBe org.apache.spark.sql.types.DoubleType
    q.as[(Long, String, Option[Double])].collect().sortBy(_._1) shouldBe
      Array((1L, "a", None), (3L, "c", None))
  }

  test("a mixed fold serves a column added after its new era's first write") {
    val t = table("mixed_add_column", Seq("day"))
    Seq((1L, "k0", "d1")).toDF("id", "kind", "day")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val name = sqlName(t)
    spark.sql(s"ALTER TABLE $name SET PARTITIONED BY (kind) METADATA ONLY")
    spark.sql(s"INSERT INTO $name (id, kind, day) VALUES (2, 'k0', 'd2')")
    spark.sql(s"ALTER TABLE $name ADD COLUMN extra STRING")
    spark.sql(s"INSERT INTO $name (id, kind, day, extra) VALUES (3, 'k1', 'd3', 'e3')")
    PartitionEvolution.eraSignatures(log.currentVersion(t.name)) shouldBe
      Set(List("day"), List("kind"))
    // the new era's dirs are typed from footers (kind=k0's lacks `extra`):
    // the read must still find k1's values
    spark.sql(s"SELECT id, extra FROM $name").as[(Long, Option[String])].collect()
      .sortBy(_._1) shouldBe Array((1L, None), (2L, None), (3L, Some("e3")))
  }

  test("a log with no schema record infers from the footers: one job, and its writes start no record") {
    val t = table("legacy_src", Seq("p"))
    Seq((1L, "a", "x")).toDF("id", "label", "p").versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    Seq((2L, "b", "y")).toDF("id", "label", "p").versionedInsertInto(ctx, t, user, UpdateMessage("v2"))
    // the same files under a log an earlier version wrote: no entries
    val legacy = new InMemoryTableVersions
    legacy.init(t.name, isSnapshot = false, user, UpdateMessage("init"), Instant.now())
    val ops = log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) =>
        pvs.toList.map { case (p, v) => TableOperation.AddPartitionVersion(p, v) }
      case other => fail(s"not partitioned: $other")
    }
    legacy.commit(t.name, TableUpdate(user, UpdateMessage("adopt"), Instant.now(), ops))
    DataSchema.at(spark, legacy, t, None) shouldBe None
    val legacyCat = "recordlegacy"
    spark.conf.set(s"spark.sql.catalog.$legacyCat", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind(legacyCat, legacy)
    GraftTableCatalog.register(legacyCat, t)
    val plan = s"SELECT count(*) FROM $legacyCat.db.legacy_src WHERE p = 'x'"
    jobs(spark.sql(plan).queryExecution.optimizedPlan) shouldBe 1
    shape(spark.table(s"$legacyCat.db.legacy_src").schema) shouldBe
      shape(inferred(t, legacy.currentCommit(t.name), typed = true, lg = legacy))
    shape(VersionedReader(spark, legacy).read(t).schema) shouldBe
      shape(inferred(t, legacy.currentCommit(t.name), typed = false, lg = legacy))
    val legacyMs = new InMemoryMetastore
    legacyMs.register(t)
    val legacyCtx = VersionContext(VersionedMetastore(legacy, legacyMs))
    Seq((3L, "c", "z", 3.0)).toDF("id", "label", "p", "score")
      .versionedInsertInto(legacyCtx, t, user, UpdateMessage("v3"))
    DataSchema.at(spark, legacy, t, None) shouldBe None
  }

  test("a table this version creates never probes for legacy metadata files") {
    val t = table("probe_new", Seq("p"))
    Seq((1L, "a", "x")).toDF("id", "label", "p").versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val legacy = new InMemoryTableVersions
    legacy.init(t.name, isSnapshot = false, user, UpdateMessage("init"), Instant.now())
    def resolveAll(lg: TableVersions): Unit =
      MetadataFiles.families.foreach(f => f.fold(spark, lg, t, None))
    CountingLocalFs.counting(spark) {
      resolveAll(log)
      spark.sql(s"SELECT count(*) FROM ${sqlName(t)}").collect()
      VersionedReader(spark, log).read(t).count()
    } shouldBe 0
    // the counter sees the probes of a log an earlier version wrote
    CountingLocalFs.counting(spark)(resolveAll(legacy)) should be > 0
  }

  /** A table on its own log whose next commit `race` can pre-empt. */
  private def hookedTable(
      name: String, parts: Seq[String]): (HookedTableVersions, VersionContext, TableDefinition) = {
    val hooked = new HookedTableVersions(new InMemoryTableVersions)
    val hctx = VersionContext(VersionedMetastore(hooked, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("db", name), Files.createTempDirectory(s"graft_record_$name").toUri,
      if (parts.isEmpty) PartitionSchema.snapshot
      else PartitionSchema(parts.map(PartitionColumn(_)).toList),
      FileFormat.Parquet)
    hctx.init(t, user, UpdateMessage("init"))
    (hooked, hctx, t)
  }

  test("a write that loses the commit race derives its record entry again on the state it lands on") {
    // snapshot: B compared {id, label} against the old record, A replaced
    // it with {id, score} first; B's files are what the head serves
    val (hs, sctx, snap) = hookedTable("race_snap", Nil)
    Seq((1L, "a")).toDF("id", "label").versionedInsertInto(sctx, snap, user, UpdateMessage("v1"))
    hs.beforeAppend = _ => {
      Seq((2L, 2.0)).toDF("id", "score").versionedInsertInto(sctx, snap, user, UpdateMessage("A"))
      ()
    }
    Seq((3L, "c")).toDF("id", "label").versionedInsertInto(sctx, snap, user, UpdateMessage("B"))
    DataSchema.at(spark, hs, snap, None).map(_.fieldNames.toList) shouldBe Some(List("id", "label"))
    VersionedReader(spark, hs).read(snap).as[(Long, String)].collect() shouldBe Array((3L, "c"))

    // partitioned: two writes that each add a column both land, through
    // the head-CAS loop and through the rebase commit
    Seq(false, true).foreach { rebase =>
      val (hp, pctx, t) = hookedTable(s"race_part_$rebase", Seq("p"))
      Seq((1L, "a", "x")).toDF("id", "label", "p")
        .versionedInsertInto(pctx, t, user, UpdateMessage("v1"))
      hp.beforeAppend = _ => {
        Seq((2L, "b", "y", 2.0)).toDF("id", "label", "p", "a")
          .versionedInsertInto(pctx, t, user, UpdateMessage("A"))
        ()
      }
      val b = Seq((3L, "c", "z", 3.0)).toDF("id", "label", "p", "b")
      if (rebase)
        b.versionedInsertIntoRebase(pctx, t, user, UpdateMessage("B"), hp.currentCommit(t.name))
      else b.versionedInsertInto(pctx, t, user, UpdateMessage("B"))
      withClue(s"rebase = $rebase: ") {
        DataSchema.at(spark, hp, t, None).map(_.fieldNames.toList) shouldBe
          Some(List("id", "label", "a", "b"))
        VersionedReader(spark, hp).read(t).select("id", "a", "b")
          .as[(Long, Option[Double], Option[Double])].collect().sortBy(_._1) shouldBe
          Array((1L, None, None), (2L, Some(2.0), None), (3L, None, Some(3.0)))
      }
    }
  }

  test("a merge-on-read append and a squash on a snapshot table grow its record, keeping the base columns") {
    val t = table("mor_snap", Nil)
    Seq((1L, "a", 1.5)).toDF("id", "label", "score")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    Seq((2L, "b")).toDF("id", "label").versionedAppendInto(ctx, t, user, UpdateMessage("mor 1"))
    record(t).fieldNames shouldBe Array("id", "label", "score")
    Seq((3L, "c", "x")).toDF("id", "label", "note")
      .versionedAppendInto(ctx, t, user, UpdateMessage("mor 2"))
    record(t).fieldNames shouldBe Array("id", "label", "score", "note")
    RowOverlay.squash(spark, ctx, t, user, UpdateMessage("squash")) shouldBe true
    record(t).fieldNames shouldBe Array("id", "label", "score", "note")
    VersionedReader(spark, log).read(t).select("id", "score", "note")
      .as[(Long, Option[Double], Option[String])].collect().sortBy(_._1) shouldBe
      Array((1L, Some(1.5), None), (2L, None, None), (3L, None, Some("x")))
  }

  test("the record widens a type but never narrows it, matches names as the session resolves them, and a full overwrite resets it") {
    val t = table("types", Seq("p"))
    Seq((1, "a", "x")).toDF("n", "label", "p").versionedInsertInto(ctx, t, user, UpdateMessage("int"))
    Seq((2L, "b", "y")).toDF("n", "label", "p").versionedInsertInto(ctx, t, user, UpdateMessage("bigint"))
    record(t)("n").dataType.typeName shouldBe "long"
    // a narrower write keeps the wide type: every dir still reads
    Seq((3, "c", "z")).toDF("n", "label", "p").versionedInsertInto(ctx, t, user, UpdateMessage("narrow"))
    record(t)("n").dataType.typeName shouldBe "long"
    // a name differing only in case is the same column
    Seq((4L, "d", "w")).toDF("N", "LABEL", "p").versionedInsertInto(ctx, t, user, UpdateMessage("case"))
    record(t).fieldNames shouldBe Array("n", "label")
    VersionedReader(spark, log).read(t).select("n", "label").as[(Long, String)]
      .collect().sortBy(_._1) shouldBe Array((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
    spark.table(sqlName(t)).select("n").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L, 4L)
    // a write replacing every live partition records exactly its columns
    Seq((5L, "x"), (6L, "y"), (7L, "z"), (8L, "w")).toDF("id", "p")
      .versionedInsertInto(ctx, t, user, UpdateMessage("overwrite"))
    record(t).fieldNames shouldBe Array("id")
    // (a footer union over the INT and BIGINT dirs above refuses to merge)
    shape(record(t)) shouldBe shape(dataCols(t, inferred(t, head(t), typed = false, merge = true)))
  }

  test("a file-less state of a log with no record serves the schema of the newest data-bearing state") {
    val t = table("legacy_empty", Seq("p"))
    Seq((1L, "a", "x")).toDF("id", "label", "p").versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val legacy = new InMemoryTableVersions
    legacy.init(t.name, isSnapshot = false, user, UpdateMessage("init"), Instant.now())
    val init = legacy.currentCommit(t.name)
    val ops = log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) =>
        pvs.toList.map { case (p, v) => TableOperation.AddPartitionVersion(p, v) }
      case other => fail(s"not partitioned: $other")
    }
    legacy.commit(t.name, TableUpdate(user, UpdateMessage("adopt"), Instant.now(), ops))
    val legacyCat = "recordlegacyempty"
    spark.conf.set(s"spark.sql.catalog.$legacyCat", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind(legacyCat, legacy)
    GraftTableCatalog.register(legacyCat, t)
    val name = s"$legacyCat.db.legacy_empty"
    val want = shape(spark.table(name).schema)
    val atInit = spark.sql(s"SELECT * FROM $name VERSION AS OF '${init.id}'")
    shape(atInit.schema) shouldBe want
    atInit.count() shouldBe 0L
    // every partition deleted
    legacy.commit(t.name, TableUpdate(user, UpdateMessage("drop all"), Instant.now(),
      ops.collect { case TableOperation.AddPartitionVersion(p, _) => TableOperation.RemovePartition(p) }))
    shape(spark.table(name).schema) shouldBe want
    spark.table(name).count() shouldBe 0L
  }
}

/** A local file system counting `exists` probes of metadata `.json` files. */
final class CountingLocalFs extends LocalFileSystem {
  override def exists(f: Path): Boolean = {
    if (f.getName.endsWith(".json")) CountingLocalFs.probes.incrementAndGet()
    super.exists(f)
  }
}

object CountingLocalFs {
  private val probes = new AtomicInteger

  /** The probes `body` makes through the session's Hadoop configuration. */
  def counting(spark: org.apache.spark.sql.SparkSession)(body: => Any): Int = {
    probes.set(0)
    spark.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try { body; probes.get }
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }
}
