package graft.spark

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{TableOperation, TableUpdate, UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/** Deletion-vector (`_deletes`) and row-overlay (`_appends`) sidecars are
  * named by the commit that publishes them: resolution folds the log
  * instead of probing directories, and no sidecar byte is written after
  * the commit that names it. */
class SidecarNamingSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("sidecar-naming")

  private def partitioned(name: String): TableDefinition =
    TableDefinition(
      TableName("test", name), Files.createTempDirectory(s"graft_sn_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)

  /** A format-2 snapshot table of `n` one-row commits. The version dirs
    * are copies of one one-row parquet file, so building 200 commits
    * runs one Spark job. */
  private final class OneRowCommits(name: String) {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", name), Files.createTempDirectory(s"graft_sn_$name").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    private val seed = Files.createTempDirectory("graft_sn_seed").resolve("one")
    Seq(Event(1L, "k", "d")).toDS().coalesce(1).write.parquet(seed.toString)
    private val row = Files.list(seed).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    var n = 0

    def growTo(target: Int): Unit =
      while (n < target) {
        val v = Version.generateVersion()
        val dir = java.nio.file.Paths.get(VersionPaths.pathFor(table.location, v))
        Files.createDirectories(dir)
        Files.copy(row, dir.resolve("part-0.parquet"))
        ctx.metastore.commit(table.name, TableUpdate(
          user, UpdateMessage(s"c$n"), Instant.now(), List(TableOperation.AddTableVersion(v))))
        n += 1
      }
  }

  test("a table with no sidecars resolves vectors and overlays with no file-system call") {
    val t = new OneRowCommits("no_sidecars")
    t.growTo(25)
    RecordingLocalFs.recording(spark) {
      DeletionVectors.hasVectors(spark, t.log, t.table, None) shouldBe false
      RowOverlay.hasOverlay(spark, t.log, t.table, None) shouldBe false
      RowOverlay.contributions(spark, t.log, t.table, None) shouldBe Nil
      val mid = t.log.updates(t.table.name)(10).id
      DeletionVectors.hasVectors(spark, t.log, t.table, Some(mid)) shouldBe false
      RowOverlay.contributions(spark, t.log, t.table, Some(mid)) shouldBe Nil
    }.statCalls shouldBe 0
  }

  test("VACUUM's file-system calls stay flat as the retained lineage grows") {
    val t = new OneRowCommits("vacuum_calls")
    val calls = List(25, 50, 100, 200).map { n =>
      t.growTo(n)
      n -> RecordingLocalFs.recording(spark) {
        // every commit retained: each one's sidecar walk runs
        Vacuum.vacuum(t.table, t.log, spark.sessionState.newHadoopConf(), keepLast = n)
          .deleted shouldBe Nil
      }.statCalls
    }.toMap
    info(s"VACUUM file-system calls by commit count: $calls")
    calls(25) should be > 0
    calls(200) should be <= calls(25) * 10
  }

  test("no sidecar byte is created, renamed or deleted after the commit that names it") {
    val log = new InMemoryTableVersions
    val catalog = new HookedMetastore
    val ctx = VersionContext(VersionedMetastore(log, catalog))
    val table = partitioned("recorded")
    ctx.init(table, user, UpdateMessage("init"))
    (1L to 60L).map(i => Event(i, s"k${i % 2}", s"2024-01-0${i % 3 + 1}"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val day1 = Partition(ColumnValue(PartitionColumn("date"), "2024-01-01"))
    val clone = TableName("test", "recorded_clone")

    val events = RecordingLocalFs.recording(spark) {
      // every catalog sync runs right after its commit's log append
      catalog.afterUpdate = name => RecordingLocalFs.committed(log.currentCommit(name).id)
      try {
        DeletionVectors.delete(ctx, log, table, col("id") <= 3, user, UpdateMessage("dv 1"))
        DeletionVectors.delete(ctx, log, table, col("id") === 10L, user, UpdateMessage("dv 2"))
        RowOverlay.update(ctx, table, col("id") === 20L,
          Seq("kind" -> org.apache.spark.sql.functions.lit("u")), user, UpdateMessage("mor update"))
        RowOverlay.append(Seq(Event(100L, "o", "2024-01-01")).toDF(), ctx, table, user,
          UpdateMessage("mor append 1"))
        RowOverlay.append(Seq(Event(101L, "o", "2024-01-02")).toDF(), ctx, table, user,
          UpdateMessage("mor append 2"))
        ShallowClone.clone(spark, ctx, table, clone, user)
        RowOverlay.squash(spark, ctx, table, user, UpdateMessage("overlay squash")) shouldBe true
        DeletionVectors.squashSidecars(spark, ctx, table, user, UpdateMessage("dv squash")) shouldBe true
        DeletionVectors.delete(ctx, log, table, col("id") === 30L, user, UpdateMessage("dv 3"))
        Compaction.compact(spark, ctx, table, user, UpdateMessage("optimize day1"),
          partitions = Seq(day1))
        DeletionVectors.delete(ctx, log, table, col("id") === 40L, user, UpdateMessage("dv 4"))
        Compaction.compact(spark, ctx, table, user, UpdateMessage("optimize"))
        DeletionVectors.delete(ctx, log, table, col("id") === 50L, user, UpdateMessage("dv 5"))
        PartitionEvolution.evolve(spark, ctx, table, PartitionSchema(List(PartitionColumn("kind"))), user)
      } finally catalog.afterUpdate = _ => ()
    }

    val named = (log.updates(table.name) ++ log.updates(clone)).collect {
      case m if m.tableMetadata.keySet.exists(Set(MetadataFiles.Deletes, MetadataFiles.Appends)) => m.id.id
    }.toSet
    // every path each kind of commit publishes was seen, and each sidecar
    // mutation precedes the commit naming its dir
    named.size should be >= 10
    val sidecar = """/_(?:deletes|appends)/commit-([^/]+)""".r
    val touched = events.mutations.flatMap { case (i, path) =>
      sidecar.findFirstMatchIn(path).map(m => (i, m.group(1), path))
    }
    touched.map(_._2).toSet should contain allElementsOf named
    touched.foreach { case (i, id, path) =>
      events.commitIndex.get(id).foreach { at =>
        withClue(s"$path after its commit: ")(i should be < at)
      }
    }
    // the states read as before: the clone kept its carried vectors and rows
    val evolved = PartitionEvolution.definitionAt(spark, log, table)
    DeletionVectors.read(spark, log, evolved).count() shouldBe 55L // 60 + 2 appended - 7 deleted
    DeletionVectors.read(spark, log, table.copy(name = clone)).count() shouldBe 58L
  }

  /** A table as an earlier version left it: its log carries `format`
    * (None: no entry at all) and one data commit of ten rows. */
  private def earlier(name: String, format: Option[String]): (VersionContext, TableVersions, TableDefinition) = {
    val log = new InMemoryTableVersions
    val catalog = new InMemoryMetastore
    val ctx = VersionContext(VersionedMetastore(log, catalog))
    val table = partitioned(name)
    catalog.register(table)
    log.init(table.name, isSnapshot = false, user, UpdateMessage("init"), Instant.now(),
      format.fold(Map.empty[String, String])(f => Map("format" -> f)))
    (1L to 10L).map(i => Event(i, "k", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    (ctx, log, table)
  }

  /** A sidecar dir under `root` (`_deletes` / `_appends`) at the id of the
    * table's head commit — where an earlier version's probe found it. */
  private def plant(log: TableVersions, table: TableDefinition, root: String): Unit =
    Seq(("f", 0L)).toDF("file", "pos").write.parquet(
      Partition.normalizedDir(table.location).toString +
        s"$root/commit-${log.currentCommit(table.name).id}")

  test("a log below format 2 whose location holds a sidecar root is refused, naming the root") {
    val (_, log1, t1) = earlier("legacy_dv", Some("1"))
    plant(log1, t1, "_deletes")
    (the[IllegalStateException] thrownBy DeletionVectors.read(spark, log1, t1).count())
      .getMessage should include("_deletes")
    (the[IllegalStateException] thrownBy
      Vacuum.vacuum(t1, log1, spark.sessionState.newHadoopConf(), graceMs = 0L))
      .getMessage should include("_deletes")
    val (_, log0, t0) = earlier("legacy_ro", None)
    plant(log0, t0, "_appends")
    (the[IllegalStateException] thrownBy RowOverlay.contributions(spark, log0, t0, None))
      .getMessage should include("_appends")
    // a stream range over the legacy overlay is refused, not served by the
    // changed-dirs scan that cannot see overlay rows
    (the[IllegalStateException] thrownBy VersionedStream.overlayTouched(
      spark, VersionedStream.Handle(log0, t0), 0, log0.updates(t0.name).size))
      .getMessage should include("_appends")

    // a merge-on-read append publishes an overlay dir, and the probe that
    // lifts the log checks BOTH roots: the legacy vectors keep it refused
    val (ctx3, log3, t3) = earlier("legacy_dv_append", Some("1"))
    plant(log3, t3, "_deletes")
    (the[IllegalStateException] thrownBy RowOverlay.append(
      Seq(Event(11L, "o", "2024-01-01")).toDF(), ctx3, t3, user, UpdateMessage("mor append")))
      .getMessage should include("_deletes")
    log3.metadataAtHead(t3.name, "format").inForce shouldBe Some("1")

    // with no sidecar root the first sidecar commit lifts the log to format
    // 2, after which its sidecars resolve from the log alone
    val (ctx2, log2, t2) = earlier("lifted", Some("1"))
    DeletionVectors.delete(ctx2, log2, t2, col("id") <= 2, user, UpdateMessage("dv")) shouldBe 2L
    RowOverlay.append(Seq(Event(11L, "o", "2024-01-01")).toDF(), ctx2, t2, user,
      UpdateMessage("mor append"))
    log2.metadataAtHead(t2.name, "format").inForce shouldBe Some("2")
    RecordingLocalFs.recording(spark) {
      DeletionVectors.hasVectors(spark, log2, t2, None) shouldBe true
      RowOverlay.hasOverlay(spark, log2, t2, None) shouldBe true
    }.statCalls shouldBe 0
    DeletionVectors.read(spark, log2, t2).count() shouldBe 9L
  }

  test("a shallow clone's sidecars in the shared location leave its format-1 source readable") {
    val (ctx, log, src) = earlier("clone_src", Some("1"))
    val dst = ShallowClone.clone(spark, ctx, src, TableName("test", "clone_src_clone"), user)
    DeletionVectors.delete(ctx, log, dst, col("id") <= 2, user, UpdateMessage("dv on clone")) shouldBe 2L
    RowOverlay.append(Seq(Event(11L, "o", "2024-01-01")).toDF(), ctx, dst, user,
      UpdateMessage("mor append on clone"))
    log.metadataAtHead(src.name, "format").inForce shouldBe Some("1")
    DeletionVectors.read(spark, log, src).count() shouldBe 10L
    DeletionVectors.read(spark, log, dst).count() shouldBe 9L
    Vacuum.vacuum(src, log, spark.sessionState.newHadoopConf(), graceMs = 0L, dryRun = true)
      .deleted shouldBe Nil
    // the source's own first sidecar lifts it; each side keeps its rows
    DeletionVectors.delete(ctx, log, src, col("id") === 5L, user, UpdateMessage("dv on source")) shouldBe 1L
    log.metadataAtHead(src.name, "format").inForce shouldBe Some("2")
    DeletionVectors.read(spark, log, src).count() shouldBe 9L
    DeletionVectors.read(spark, log, dst).count() shouldBe 9L
  }
}

/** A local file system recording, in one global order, the status and
  * listing calls it serves and every path it creates, renames or deletes;
  * [[RecordingLocalFs.committed]] interleaves commit markers. */
final class RecordingLocalFs extends LocalFileSystem {
  import RecordingLocalFs._

  override def getFileStatus(f: Path): FileStatus = { stats.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { stats.incrementAndGet(); super.listStatus(f) }
  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable) = {
    record(s"create $f")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { record(s"mkdirs $f"); super.mkdirs(f, permission) }
  override def rename(src: Path, dst: Path): Boolean = {
    record(s"rename $src"); record(s"rename $dst"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = { record(s"delete $f"); super.delete(f, recursive) }
}

object RecordingLocalFs {
  private val stats = new AtomicInteger
  private val seq = new AtomicInteger
  private val log = new ConcurrentLinkedQueue[(Int, String)]

  private def record(what: String): Unit = log.add(seq.incrementAndGet() -> what)

  /** Mark that the commit `id` just landed. */
  def committed(id: String): Unit = record(s"commit $id")

  final case class Recording(statCalls: Int, events: List[(Int, String)]) {
    def mutations: List[(Int, String)] = events.filterNot(_._2.startsWith("commit "))
    def commitIndex: Map[String, Int] = events.collect {
      case (i, e) if e.startsWith("commit ") => e.stripPrefix("commit ") -> i
    }.toMap
  }

  /** What `body` does through the session's Hadoop configuration. */
  def recording(spark: org.apache.spark.sql.SparkSession)(body: => Any): Recording = {
    stats.set(0)
    log.clear()
    spark.conf.set("fs.file.impl", classOf[RecordingLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      body
      Recording(stats.get, log.asScala.toList.sortBy(_._1))
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }
}
