package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/** CONVERT TO GRAFT (in-place adoption of a plain data dir) and DEEP CLONE
  * (independent physical copy with carried declarations). */
class ConvertDeepCloneSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("convert-test")

  private def freshContext(): (VersionContext, TableVersions) = {
    val log = new InMemoryTableVersions
    (VersionContext(VersionedMetastore(log, new InMemoryMetastore)), log)
  }

  private val events = Seq(
    Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-01"),
    Event(3, "a", "2024-01-02"), Event(4, "c", "2024-01-03"))

  test("convert adopts a plain partitioned dir in place; the table then versions normally") {
    val loc = Files.createTempDirectory("graft_convert_part")
    // pre-existing data: a PLAIN Spark write, no versioning layer anywhere
    events.toDS().write.mode("overwrite").partitionBy("date").parquet(loc.toString)
    Files.delete(loc.resolve("_SUCCESS")) // hidden files must not matter either way

    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "conv_part"), loc.toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ConvertToGraft.convert(spark, ctx, table, user)

    val reader = VersionedReader(spark, log)
    reader.read(table).as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L, 3L, 4L)
    // every partition landed at ONE shared label, and the files physically
    // moved under it (no loose files remain)
    val state = log.currentVersion(table.name).asInstanceOf[PartitionedTableVersion]
    state.partitionVersions.keySet.map(_.hivePath) shouldBe Set(
      "date=2024-01-01", "date=2024-01-02", "date=2024-01-03")
    state.partitionVersions.values.toSet.size shouldBe 1
    val p1 = loc.resolve("date=2024-01-01")
    Files.list(p1).iterator().asScala
      .filter(f => !Files.isDirectory(f))
      .filterNot(_.getFileName.toString.startsWith(".")).toList shouldBe Nil
    // the marker is gone
    Files.exists(loc.resolve(ConvertToGraft.MarkerName)) shouldBe false

    // the adopted table is a full citizen: overwrite one partition, time
    // travel back to the converted state
    val converted = log.currentCommit(table.name)
    Seq(Event(9, "z", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("w1"))
    reader.read(table).as[Event].collect().map(_.id).sorted shouldBe Array(3L, 4L, 9L)
    reader.readAsOf(table, converted)
      .as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L, 3L, 4L)

    // converting the same table again refuses (it is already tracked)
    val again = intercept[RuntimeException] {
      ConvertToGraft.convert(spark, ctx, table, user)
    }
    again.getMessage should include("already tracked")
  }

  test("convert adopts a plain snapshot dir; a crashed convert resumes to the same state") {
    val loc = Files.createTempDirectory("graft_convert_snap")
    events.toDS().coalesce(2).write.mode("overwrite").parquet(loc.toString)

    // simulate a crash AFTER the marker write and a partial move: run the
    // marker+move of one file by hand using the real marker format
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "conv_snap"), loc.toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ConvertToGraft.convert(spark, ctx, table, user)
    val reader = VersionedReader(spark, log)
    reader.read(table).as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L, 3L, 4L)
    val state = log.currentVersion(table.name).asInstanceOf[SnapshotTableVersion]
    state.version should not be Version.Unversioned
  }

  test("a marker left by a crash resumes the SAME label instead of refusing") {
    val loc = Files.createTempDirectory("graft_convert_resume")
    events.toDS().write.mode("overwrite").partitionBy("date").parquet(loc.toString)
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "conv_resume"), loc.toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)

    // hand-write the marker a crashed first attempt would leave, with one
    // partition's files already moved under its label
    val label = Version.generateVersion()
    val marker =
      s"""{"label":"${label.label}","table":"test.conv_resume","format":"parquet",""" +
        s""""partitionColumns":["date"]}"""
    Files.write(loc.resolve(ConvertToGraft.MarkerName), marker.getBytes("UTF-8"))
    val p1 = loc.resolve("date=2024-01-01")
    val dst = p1.resolve(label.label)
    Files.createDirectories(dst)
    Files.list(p1).iterator().asScala
      .filter(f => !Files.isDirectory(f))
      .filterNot(_.getFileName.toString.startsWith("."))
      .foreach(f => Files.move(f, dst.resolve(f.getFileName)))

    ConvertToGraft.convert(spark, ctx, table, user)
    val state = log.currentVersion(table.name).asInstanceOf[PartitionedTableVersion]
    // the resumed convert adopted the crashed attempt's label everywhere
    state.partitionVersions.values.toSet shouldBe Set(label)
    VersionedReader(spark, log).read(table)
      .as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L, 3L, 4L)
    Files.exists(loc.resolve(ConvertToGraft.MarkerName)) shouldBe false
  }

  test("the distributed walk/rename path (thresholds at 1) adopts the same state as the driver path") {
    // two identical plain trees; one converts under forced distribution
    def plainTree(): java.nio.file.Path = {
      val loc = Files.createTempDirectory("graft_convert_dist")
      events.toDS().repartition(3)
        .write.mode("overwrite").partitionBy("date").parquet(loc.toString)
      loc
    }
    def convertAt(loc: java.nio.file.Path, nm: String): Set[(String, Long)] = {
      val (ctx, log) = freshContext()
      val t = TableDefinition(
        TableName("test", nm), loc.toUri,
        PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
      ConvertToGraft.convert(spark, ctx, t, user)
      VersionedReader(spark, log).read(t).as[Event]
        .collect().map(e => (e.date, e.id)).toSet
    }
    val a = convertAt(plainTree(), "conv_driver")
    spark.conf.set("spark.graft.convert.distributedMinDirs", "1")
    spark.conf.set("spark.graft.convert.distributedMinFiles", "1")
    val b =
      try convertAt(plainTree(), "conv_dist")
      finally {
        spark.conf.unset("spark.graft.convert.distributedMinDirs")
        spark.conf.unset("spark.graft.convert.distributedMinFiles")
      }
    b shouldBe a
  }

  test("convert adopts an ORC tree through the format passthrough") {
    val loc = Files.createTempDirectory("graft_convert_orc")
    events.toDS().write.mode("overwrite").partitionBy("date").orc(loc.toString)
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "conv_orc"), loc.toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Orc)
    ConvertToGraft.convert(spark, ctx, table, user)
    VersionedReader(spark, log).read(table)
      .as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L, 3L, 4L)
  }

  test("convert round-trips Hive-escaped partition values (spaces, colons)") {
    val loc = Files.createTempDirectory("graft_convert_esc")
    Seq(
      Event(1, "a", "north region"),   // space stays literal in the path
      Event(2, "b", "t:08"),           // ':' is percent-escaped by Hive
      Event(3, "c", "plain"))
      .toDS().write.mode("overwrite").partitionBy("date").parquet(loc.toString)
    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "conv_esc"), loc.toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ConvertToGraft.convert(spark, ctx, table, user)
    // the commit log holds the UNESCAPED values; reads resolve the
    // escaped dirs back through the shared SparkPaths rendering
    val state = log.currentVersion(table.name).asInstanceOf[PartitionedTableVersion]
    state.partitionVersions.keySet.map(_.hivePath) shouldBe Set(
      "date=north region", "date=t:08", "date=plain")
    VersionedReader(spark, log).read(table).as[Event]
      .collect().map(e => (e.id, e.date)).toSet shouldBe Set(
      (1L, "north region"), (2L, "t:08"), (3L, "plain"))
    // and a post-convert overwrite of an escaped partition still works
    Seq(Event(9, "z", "t:08"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("w1"))
    VersionedReader(spark, log).read(table).as[Event]
      .collect().map(_.id).sorted shouldBe Array(1L, 3L, 9L)
  }

  test("deep clone at an OLD commit materializes that state, not the head") {
    val (ctx, log) = freshContext()
    val src = TableDefinition(
      TableName("test", "deep_asof_src"),
      Files.createTempDirectory("graft_deep_asof").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(src, user, UpdateMessage("init"))
    Seq(Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-02"))
      .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v1"))
    val v1 = log.currentCommit(src.name)
    Seq(Event(3, "c", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v2: replace 01-01"))

    val clone = DeepClone.clone(
      spark, ctx, src, TableName("test", "deep_asof_dst"),
      Files.createTempDirectory("graft_deep_asof_dst").toUri, user, Some(v1))
    val reader = VersionedReader(spark, log)
    reader.read(clone).as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L)
    reader.read(src).as[Event].collect().map(_.id).sorted shouldBe Array(2L, 3L)
  }

  test("convert refuses a location that already holds version dirs, and a mismatched layout") {
    val (ctx, _) = freshContext()
    // a real versioned table's location
    val (ctx2, _) = freshContext()
    val versioned = TableDefinition(
      TableName("test", "conv_owned"),
      Files.createTempDirectory("graft_convert_owned").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx2.init(versioned, user, UpdateMessage("init"))
    events.toDS().versionedInsertInto(ctx2, versioned, user, UpdateMessage("v1"))
    val e1 = intercept[Exception] {
      ConvertToGraft.convert(
        spark, ctx, versioned.copy(name = TableName("test", "conv_steal")), user)
    }
    e1.getMessage should include("version dir")

    // declared layout does not match the dirs on disk
    val loc = Files.createTempDirectory("graft_convert_badcols")
    events.toDS().write.mode("overwrite").partitionBy("date").parquet(loc.toString)
    val e2 = intercept[Exception] {
      ConvertToGraft.convert(spark, ctx,
        TableDefinition(TableName("test", "conv_bad"), loc.toUri,
          PartitionSchema(List(PartitionColumn("kind"))), FileFormat.Parquet), user)
    }
    e2.getMessage should include("does not match declared partition column")
  }

  test("deep clone copies the resolved state to its own location and carries declarations") {
    val (ctx, log) = freshContext()
    val src = TableDefinition(
      TableName("test", "deep_src"),
      Files.createTempDirectory("graft_deep_src").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(src, user, UpdateMessage("init"))
    events.toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v1"))
    Constraints.add(spark, ctx, src, Constraints.check("pos_id", "id > 0"), user)
    // live DVs at clone time: the clone must materialize WITHOUT row 2
    DeletionVectors.delete(
      ctx, log, src, col("id") === 2, user, UpdateMessage("dv"))

    val dstLoc = Files.createTempDirectory("graft_deep_dst").toUri
    val clone = DeepClone.clone(
      spark, ctx, src, TableName("test", "deep_dst"), dstLoc, user)
    clone.location shouldBe dstLoc

    val reader = VersionedReader(spark, log)
    // resolved copy: DV-hidden row absent, zero sidecar debt (plain read
    // needs no DV application)
    reader.read(clone).as[Event].collect().map(_.id).sorted shouldBe Array(1L, 3L, 4L)
    DeletionVectors.hasVectors(spark, log, clone, None) shouldBe false
    // carried constraint enforces on the CLONE's own writes
    val bad = intercept[Exception] {
      Seq(Event(-5, "x", "2024-02-01"))
        .toDS().versionedInsertInto(ctx, clone, user, UpdateMessage("bad"))
    }
    bad.getMessage should include("pos_id")
    // no vacuum coupling: neither side carries clone tags
    ShallowClone.hasCloneLink(log, src.name) shouldBe false
    ShallowClone.hasCloneLink(log, clone.name) shouldBe false

    // independence: writes to the source never reach the clone
    Seq(Event(7, "q", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v2"))
    reader.read(clone).as[Event].collect().map(_.id).sorted shouldBe Array(1L, 3L, 4L)
  }

  test("deep clone of a sidecar-free state is a raw byte-for-byte file copy") {
    val (ctx, log) = freshContext()
    val srcLoc = Files.createTempDirectory("graft_deep_raw_src")
    val src = TableDefinition(
      TableName("test", "deep_raw_src"), srcLoc.toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(src, user, UpdateMessage("init"))
    events.toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v1"))
    // v2 REPLACES partition 2024-01-02 (Hive replace-touched semantics)
    Seq(Event(5, "d", "2024-01-02"))
      .toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v2"))

    val dstLoc = Files.createTempDirectory("graft_deep_raw_dst")
    val clone = DeepClone.clone(
      spark, ctx, src, TableName("test", "deep_raw_dst"), dstLoc.toUri, user)

    // data files match by RELATIVE PATH (same partition dirs, same
    // version labels, same file names) and BYTE SIZE — nothing was
    // decoded or re-encoded
    def dataFiles(root: java.nio.file.Path): Map[String, Long] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filter(p => !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally walk.close()
    }
    val srcFiles = dataFiles(srcLoc)
    val dstFiles = dataFiles(dstLoc)
    // the source tree read only reflects the LIVE state (v2 replaced
    // 01-02's v1 dir, which stays on disk for time travel) — the clone
    // holds exactly the live state's files
    dstFiles.keySet.subsetOf(srcFiles.keySet) shouldBe true
    dstFiles.foreach { case (rel, size) => srcFiles(rel) shouldBe size }
    dstFiles should not be empty
    // and the bytes are IDENTICAL, not merely same-sized
    dstFiles.keys.foreach { rel =>
      java.util.Arrays.equals(
        Files.readAllBytes(srcLoc.resolve(rel)),
        Files.readAllBytes(dstLoc.resolve(rel))) shouldBe true
    }
    // the raw tier is auditable in the clone's history
    log.updates(clone.name).map(_.message.content)
      .exists(_.contains("raw file copy")) shouldBe true
    // and the clone reads as the cloned state
    VersionedReader(spark, log).read(clone)
      .as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L, 4L, 5L)

    // a DV-bearing source must NOT raw-copy (the resolved tier
    // materializes) — pinned by the absence of the raw-tier audit line
    DeletionVectors.delete(
      ctx, log, src, col("id") === 2, user, UpdateMessage("dv"))
    val clone2 = DeepClone.clone(
      spark, ctx, src, TableName("test", "deep_raw_dst2"),
      Files.createTempDirectory("graft_deep_raw_dst2").toUri, user)
    log.updates(clone2.name).map(_.message.content)
      .exists(_.contains("raw file copy")) shouldBe false
    VersionedReader(spark, log).read(clone2)
      .as[Event].collect().map(_.id).sorted shouldBe Array(1L, 4L, 5L)
  }

  test("an AS OF deep clone registers the schema a VERSION AS OF load would declare") {
    val log = new InMemoryTableVersions
    spark.conf.set("spark.sql.catalog.graftdcas", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftdcas", log)
    val loc = Files.createTempDirectory("graft_dcas_src").toUri
    val src = "graftdcas.db.dcas_src"
    spark.sql(
      s"""CREATE TABLE $src (id BIGINT, meta STRUCT<src: STRING>, date STRING)
         |USING parquet PARTITIONED BY (date) LOCATION '$loc'""".stripMargin)
    spark.sql(
      s"INSERT INTO $src SELECT id, named_struct('src', 's'), '2024-01-01' FROM range(1, 4)")
    val v1 = log.currentCommit(TableName("db", "dcas_src"))

    // nested evolution AFTER v1 (records a schema state)
    spark.sql(s"ALTER TABLE $src ADD COLUMN meta.lang STRING")
    spark.sql(
      s"INSERT INTO $src SELECT id, named_struct('src', 's', 'lang', 'en'), " +
        "'2024-01-02' FROM range(10, 12)")

    // the AS OF clone must declare the v1 struct SHAPE (no lang), exactly
    // like a VERSION AS OF read of the source would
    val deep = spark.sql(
      s"CREATE TABLE graftdcas.db.dcas_deep DEEP CLONE $src VERSION AS OF '${v1.id}' " +
        s"LOCATION '${Files.createTempDirectory("graft_dcas_deep").toUri}'").collect()
    deep.length shouldBe 1
    val cloneMeta = spark.table("graftdcas.db.dcas_deep").schema("meta")
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    cloneMeta.fieldNames.toSeq shouldBe Seq("src")
    spark.table("graftdcas.db.dcas_deep").count() shouldBe 3L
  }

  test("a source with declared-schema evolution (schema states) must not raw-copy") {
    val (ctx, log) = freshContext()
    val srcLoc = Files.createTempDirectory("graft_deep_ss_src")
    val src = TableDefinition(
      TableName("test", "deep_ss_src"), srcLoc.toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(src, user, UpdateMessage("init"))
    events.toDS().versionedInsertInto(ctx, src, user, UpdateMessage("v1"))
    // a recorded schema state marks heterogeneous file generations — a
    // raw copy registered without a carried schema could let a narrow
    // footer win the inference and drop evolved fields
    val narrow = VersionedReader(spark, log).read(src).schema
    val evolved = org.apache.spark.sql.types.StructType(
      narrow.fields :+ org.apache.spark.sql.types.StructField(
        "note", org.apache.spark.sql.types.StringType))
    ctx.metastore.commit(src.name, graft.core.TableVersions.TableUpdate(
      user, UpdateMessage("ALTER TABLE ADD COLUMNS (note)"),
      java.time.Instant.now(), Nil).withTableMetadata(SchemaStates.entry(narrow, evolved)))

    val clone = DeepClone.clone(
      spark, ctx, src, TableName("test", "deep_ss_dst"),
      Files.createTempDirectory("graft_deep_ss_dst").toUri, user)
    log.updates(clone.name).map(_.message.content)
      .exists(_.contains("raw file copy")) shouldBe false
    VersionedReader(spark, log).read(clone)
      .as[Event].collect().map(_.id).sorted shouldBe Array(1L, 2L, 3L, 4L)
  }

  private def snapshotTree(loc: java.nio.file.Path): Set[String] = {
    val walk = Files.walk(loc)
    try walk.iterator().asScala.map(p => loc.relativize(p).toString).toSet
    finally walk.close()
  }

  test("a mis-declared FORMAT refuses at pre-flight with zero files moved") {
    val loc = Files.createTempDirectory("graft_convert_badfmt")
    events.toDS().write.mode("overwrite").partitionBy("date").parquet(loc.toString)
    val before = snapshotTree(loc)

    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "conv_badfmt"), loc.toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Orc)
    val e = intercept[IllegalArgumentException] {
      ConvertToGraft.convert(spark, ctx, table, user)
    }
    e.getMessage should include("declared FORMAT orc")
    e.getMessage should include("parquet file")
    // NOTHING happened: no marker, no renames, no label dirs, no tracking
    snapshotTree(loc) shouldBe before
    intercept[NoSuchElementException](log.currentCommit(table.name))
    ()
  }

  test("a Hive null-partition dir refuses at discovery with the directory untouched") {
    val loc = Files.createTempDirectory("graft_convert_nullpart")
    // a stock-Spark write with null partition values produces the
    // __HIVE_DEFAULT_PARTITION__ sentinel dir
    Seq((1L, "a", "2024-01-01"), (2L, "b", null: String))
      .toDF("id", "kind", "date")
      .write.mode("overwrite").partitionBy("date").parquet(loc.toString)
    Files.exists(loc.resolve("date=__HIVE_DEFAULT_PARTITION__")) shouldBe true
    val before = snapshotTree(loc)

    val (ctx, log) = freshContext()
    val table = TableDefinition(
      TableName("test", "conv_nullpart"), loc.toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    val e = intercept[IllegalArgumentException] {
      ConvertToGraft.convert(spark, ctx, table, user)
    }
    e.getMessage should include("null or empty")
    // the refusal is NON-DESTRUCTIVE: every file exactly where it was,
    // no marker, nothing tracked — and a re-run refuses the same way
    // instead of being stranded on a half-moved tree
    snapshotTree(loc) shouldBe before
    intercept[NoSuchElementException](log.currentCommit(table.name))
    intercept[IllegalArgumentException] {
      ConvertToGraft.convert(spark, ctx, table, user)
    }
    ()
  }

  test("CONVERT ... DRY RUN reports discovered counts and moves nothing") {
    val loc = Files.createTempDirectory("graft_convert_dry")
    events.toDS().write.mode("overwrite").partitionBy("date").parquet(loc.toString)
    val before = snapshotTree(loc)

    val log = new InMemoryTableVersions
    spark.conf.set(
      "spark.sql.catalog.graftconv", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftconv", log)
    val name = "graftconv.test.conv_dry"

    val dry = spark.sql(
      s"CONVERT TO GRAFT $name FROM '${loc.toString}' " +
        "PARTITIONED BY (date) DRY RUN").collect()
    dry.head.getInt(1) shouldBe 3 // three date partitions discovered
    dry.head.getLong(2) should be > 0L
    dry.head.getBoolean(3) shouldBe true
    // zero writes: tree identical, no marker, nothing tracked/registered
    snapshotTree(loc) shouldBe before
    intercept[NoSuchElementException](log.currentCommit(TableName("test", "conv_dry")))
    GraftTableCatalog.lookup("graftconv", TableName("test", "conv_dry")) shouldBe None

    // the real conversion then adopts exactly what the preview reported
    val real = spark.sql(
      s"CONVERT TO GRAFT $name FROM '${loc.toString}' PARTITIONED BY (date)").collect()
    real.head.getInt(1) shouldBe 3
    real.head.getLong(2) shouldBe dry.head.getLong(2)
    real.head.getBoolean(3) shouldBe false
    spark.sql(s"SELECT count(*) FROM $name").head().getLong(0) shouldBe 4L
  }

  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}
