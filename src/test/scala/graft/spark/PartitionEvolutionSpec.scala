package graft.spark

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class PartitionEvolutionSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("evolve-test")

  private def fresh(): (VersionContext, TableVersions) = {
    val log = new InMemoryTableVersions
    (VersionContext(VersionedMetastore(log, new InMemoryMetastore)), log)
  }

  private def table(name: String, partCol: String): TableDefinition = TableDefinition(
    TableName("test", name),
    Files.createTempDirectory(s"graft_evolve_$name").toUri,
    PartitionSchema(List(PartitionColumn(partCol))),
    FileFormat.Parquet)

  test("evolve re-partitions at a commit boundary; each era time-travels under its own scheme") {
    val (ctx, log) = fresh()
    val t = table("evo1", "date")
    ctx.init(t, user, UpdateMessage("init"))
    val events = (1L to 30L).map(i =>
      Event(i, if (i % 3 == 0) "x" else "y", if (i % 2 == 0) "2024-01-01" else "2024-01-02"))
    events.toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val preBoundary = log.currentCommit(t.name)

    val evolved = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    evolved.partitionSchema.columns.map(_.name) shouldBe List("kind")

    val reader = VersionedReader(spark, log)
    // rows identical across the boundary; the layout is now kind=...
    reader.read(evolved).as[Event].collect().sortBy(_.id) shouldBe events.toArray
    log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) =>
        pvs.keys.map(_.hivePath).toSet shouldBe Set("kind=x", "kind=y")
      case other => fail(s"unexpected $other")
    }
    Files.exists(Paths.get(t.location).resolve("kind=x")) shouldBe true

    // pre-boundary time travel: the OLD era's layout and full rows
    val old = reader.readAsOf(t, preBoundary)
    old.as[Event].collect().sortBy(_.id) shouldBe events.toArray
    log.versionAt(t.name, preBoundary) match {
      case PartitionedTableVersion(pvs) =>
        pvs.keys.map(_.hivePath).toSet shouldBe Set("date=2024-01-01", "date=2024-01-02")
      case other => fail(s"unexpected $other")
    }
    // the registry resolves each era's scheme
    PartitionEvolution.schemeAt(spark, log, t, Some(preBoundary))
      .columns.map(_.name) shouldBe List("date")
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
  }

  test("the boundary rewrite absorbs deletion vectors and composes with new-era writes") {
    val (ctx, log) = fresh()
    val t = table("evo2", "date")
    ctx.init(t, user, UpdateMessage("init"))
    val events = (1L to 20L).map(i => Event(i, s"k${i % 2}", "2024-01-01"))
    events.toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    DeletionVectors.delete(ctx, log, t, col("id") <= 5, user, UpdateMessage("dv"))

    val evolved = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    val reader = VersionedReader(spark, log)
    // DV-hidden rows never reach the new era, and the vectors are absorbed
    reader.read(evolved).as[Event].collect().map(_.id).sorted shouldBe (6L to 20L).toArray
    DeletionVectors.hasVectors(spark, log, evolved, None) shouldBe false

    // new-era writes land under the new scheme and compose
    Seq(Event(100, "k2", "2024-02-02")).toDS()
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("v2 new era"))
    reader.read(evolved).as[Event].collect().map(_.id).sorted shouldBe
      ((6L to 20L) :+ 100L).toArray
  }

  test("a stale writer holding the pre-evolution definition refuses loudly") {
    val (ctx, log) = fresh()
    val t = table("evo3", "date")
    ctx.init(t, user, UpdateMessage("init"))
    Seq(Event(1, "a", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)

    val e = the[IllegalStateException] thrownBy {
      Seq(Event(2, "b", "2024-01-02")).toDS()
        .versionedInsertInto(ctx, t, user, UpdateMessage("stale write"))
    }
    e.getMessage should include("stale scheme")
    // the refused write staged nothing into the fold
    VersionedReader(spark, log).read(
      PartitionEvolution.definitionAt(spark, log, t)).count() shouldBe 1L
  }

  test("incremental readers refuse ranges crossing the boundary; within-era ranges work") {
    val (ctx, log) = fresh()
    val t = table("evo4", "date")
    ctx.init(t, user, UpdateMessage("init"))
    Seq(Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val pre = log.currentCommit(t.name)
    val evolved = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    val boundary = log.currentCommit(t.name)
    Seq(Event(3, "c", "2024-01-03")).toDS()
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("v2"))
    val head = log.currentCommit(t.name)

    val reader = VersionedReader(spark, log)
    (the[IllegalStateException] thrownBy reader.readChanges(evolved, pre, head))
      .getMessage should include("partition-evolution boundary")
    (the[IllegalStateException] thrownBy
      ChangeFeed.read(spark, log, evolved, Some(pre), head))
      .getMessage should include("partition-evolution boundary")
    // re-anchored at the boundary, the feed speaks the new era only
    val feed = ChangeFeed.read(spark, log, evolved, Some(boundary), head)
    feed.where(col(ChangeFeed.ChangeTypeCol) === ChangeFeed.Insert)
      .select("id").as[Long].collect() shouldBe Array(3L)
    reader.readChanges(evolved, boundary, head).select("id").as[Long].collect() shouldBe Array(3L)
  }

  test("a shallow clone of an evolved table carries the era registry") {
    val (ctx, log) = fresh()
    val t = table("evo5", "date")
    ctx.init(t, user, UpdateMessage("init"))
    Seq(Event(1, "a", "2024-01-01"), Event(2, "b", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val evolved = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)

    val clone = ShallowClone.clone(
      spark, ctx, evolved, TableName("test", "evo5_fork"), user)
    clone.partitionSchema.columns.map(_.name) shouldBe List("kind")
    VersionedReader(spark, log).read(clone).as[Event]
      .collect().map(_.id).sorted shouldBe Array(1L, 2L)
    // the clone writes under its carried scheme without tripping the guard
    Seq(Event(9, "z", "2024-09-09")).toDS()
      .versionedInsertInto(ctx, clone, user, UpdateMessage("clone write"))
    VersionedReader(spark, log).read(clone).as[Event]
      .collect().map(_.id).sorted shouldBe Array(1L, 2L, 9L)
  }

  test("SQL: ALTER TABLE ... SET PARTITIONED BY evolves the scheme and flips the catalog") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    spark.conf.set("spark.sql.catalog.graftevo", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftevo", log)
    val t = table("evo_sql", "date")
    ctx.init(t, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftevo", t)
    (1L to 12L).map(i => Event(i, if (i % 2 == 0) "even" else "odd", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val pre = log.currentCommit(t.name)

    val out = spark.sql(
      "ALTER TABLE graftevo.test.evo_sql SET PARTITIONED BY (kind)").collect().head
    (out.getString(0), out.getString(1)) shouldBe (("date", "kind"))

    // current SQL reads serve the evolved state; writes carry the new scheme
    spark.sql("SELECT count(*) FROM graftevo.test.evo_sql").head.getLong(0) shouldBe 12L
    spark.sql(
      "INSERT INTO graftevo.test.evo_sql (id, kind, date) VALUES (99, 'zz', '2024-02-02')")
    spark.sql("SELECT count(*) FROM graftevo.test.evo_sql").head.getLong(0) shouldBe 13L
    log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) =>
        pvs.keys.map(_.hivePath).toSet shouldBe Set("kind=even", "kind=odd", "kind=zz")
      case other => fail(s"unexpected $other")
    }
    // SQL time travel to the old era still serves its layout
    spark.sql(
      s"SELECT count(*) FROM graftevo.test.evo_sql VERSION AS OF '${pre.id}'")
      .head.getLong(0) shouldBe 12L
  }

  test("multiple evolutions: three eras, each time-traveling under its own scheme") {
    val (ctx, log) = fresh()
    val t = table("evo6", "date")
    ctx.init(t, user, UpdateMessage("init"))
    val events = (1L to 12L).map(i =>
      Event(i, if (i % 2 == 0) "even" else "odd", if (i <= 6) "2024-01-01" else "2024-01-02"))
    events.toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val era1 = log.currentCommit(t.name)

    val byKind = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    val era2 = log.currentCommit(t.name)

    // ...and back again: the data column round-trips through both layouts
    val byDate = PartitionEvolution.evolve(
      spark, ctx, byKind, PartitionSchema(List(PartitionColumn("date"))), user)
    val reader = VersionedReader(spark, log)
    reader.read(byDate).as[Event].collect().sortBy(_.id) shouldBe events.toArray
    log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) =>
        pvs.keys.map(_.hivePath).toSet shouldBe Set("date=2024-01-01", "date=2024-01-02")
      case other => fail(s"unexpected $other")
    }
    // every era resolves and reads its own layout
    PartitionEvolution.schemeAt(spark, log, t, Some(era1)).columns.map(_.name) shouldBe List("date")
    PartitionEvolution.schemeAt(spark, log, t, Some(era2)).columns.map(_.name) shouldBe List("kind")
    reader.readAsOf(t, era1).as[Event].collect().sortBy(_.id) shouldBe events.toArray
    reader.readAsOf(t, era2).as[Event].collect().sortBy(_.id) shouldBe events.toArray
    log.versionAt(t.name, era2) match {
      case PartitionedTableVersion(pvs) =>
        pvs.keys.map(_.hivePath).toSet shouldBe Set("kind=even", "kind=odd")
      case other => fail(s"unexpected $other")
    }
  }

  test("RESTORE rewinds reads but does not un-evolve writes (fold-quirk consistency)") {
    val (ctx, log) = fresh()
    val t = table("evo7", "date")
    ctx.init(t, user, UpdateMessage("init"))
    val events = (1L to 10L).map(i => Event(i, if (i % 2 == 0) "even" else "odd", "2024-01-01"))
    events.toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val pre = log.currentCommit(t.name)
    val evolved = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)

    // RESTORE to the pre-boundary commit: reads serve the old era...
    log.setCurrentVersion(t.name, pre)
    val reader = VersionedReader(spark, log)
    reader.read(PartitionEvolution.definitionAt(spark, log, t))
      .as[Event].collect().sortBy(_.id) shouldBe events.toArray

    // ...but the NEXT commit resurrects the boundary (the fold quirk), so
    // an old-scheme write must still refuse — it would land date= dirs
    // into a state the resurrected boundary re-keys by kind
    val e = the[IllegalStateException] thrownBy {
      Seq(Event(11, "zz", "2024-03-03")).toDS()
        .versionedInsertInto(ctx, t, user, UpdateMessage("post-restore stale"))
    }
    e.getMessage should include("stale scheme")

    // a NEW-scheme write composes: the resurrected fold is kind-keyed
    Seq(Event(11, "zz", "2024-03-03")).toDS()
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("post-restore new-scheme"))
    log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) =>
        pvs.keys.map(_.hivePath).toSet shouldBe Set("kind=even", "kind=odd", "kind=zz")
      case other => fail(s"unexpected $other")
    }
    reader.read(evolved).as[Event].collect().sortBy(_.id) shouldBe
      (events :+ Event(11, "zz", "2024-03-03")).toArray
  }

  // ---- crash/race coverage: the boundary commit is the era flip ----

  /** A table on a durable log, so a crash can tear the log's final line. */
  private def durable(name: String): (VersionContext, JsonFileTableVersions, TableDefinition, java.nio.file.Path) = {
    val dir = Files.createTempDirectory(s"graft_evolve_log_$name")
    val log = new JsonFileTableVersions(dir)
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = table(name, "date")
    ctx.init(t, user, UpdateMessage("init"))
    (ctx, log, t, dir.resolve(s"${t.name.fullyQualifiedName}.jsonl"))
  }

  /** The commits of `t` that carry a partition-era flip. */
  private def boundaries(log: TableVersions, t: TableDefinition): List[String] =
    log.updates(t.name).filter(_.tableMetadata.contains(MetadataFiles.partitioning.name))
      .map(_.message.content)

  test("a writer that STAGED before the boundary cannot COMMIT after it (commit-time guard)") {
    val (ctx, log) = fresh()
    val t = table("evo_race_commit", "date")
    ctx.init(t, user, UpdateMessage("init"))
    Seq(Event(1, "x", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    // stage with the OLD definition — the stage-time guard passes (no
    // registry yet), and the data lands as unreferenced version dirs
    val staged = Seq(Event(2, "y", "2024-01-02")).toDS()
      .versionedStage(ctx, t, user, UpdateMessage("staged before boundary"))

    PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)

    // the deferred commit must now refuse: old-scheme dirs cannot land in
    // the post-boundary fold
    (the[IllegalStateException] thrownBy {
      VersionContext.commitTransaction(ctx, Seq(staged))
    }).getMessage should include("stale scheme")
    log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) =>
        all(pvs.keys.map(_.hivePath)) should startWith("kind=")
      case other => fail(s"unexpected $other")
    }
  }

  test("a crash between the boundary commit and the registry finalize still resolves the new era") {
    // a failure AFTER the boundary's log append (here: the catalog sync
    // that follows it) cannot un-flip the era — the appended commit is it
    val log = new InMemoryTableVersions
    val catalog = new HookedMetastore
    val ctx = VersionContext(VersionedMetastore(log, catalog))
    val t = table("evo_crash_finalize", "date")
    ctx.init(t, user, UpdateMessage("init"))
    Seq(Event(1, "x", "2024-01-01"), Event(2, "y", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    catalog.afterUpdate = _ => throw new RuntimeException("crash after the append")
    (the[RuntimeException] thrownBy PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user))
      .getMessage shouldBe "crash after the append"
    catalog.afterUpdate = _ => ()

    boundaries(log, t) shouldBe List("EVOLVE PARTITIONING to (kind) from (date)")
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    val evolved = PartitionEvolution.definitionAt(spark, log, t)
    VersionedReader(spark, log).read(evolved).count() shouldBe 2L
    (the[IllegalStateException] thrownBy {
      Seq(Event(3, "z", "2024-01-03")).toDS()
        .versionedInsertInto(ctx, t, user, UpdateMessage("stale"))
    }).getMessage should include("stale scheme")
  }

  test("a dangling pending intent (crash before the boundary commit) never governs") {
    // a crash BEFORE the boundary's append completes leaves at most a torn
    // final log line — replay ignores it, so the old era governs
    val (ctx, log, t, logFile) = durable("evo_dangling")
    Seq(Event(1, "x", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val torn = """{"record":"commit","id":"never-landed","user":"u","message":"EVOLVE",""" +
      """"timestamp":"2024-01-01T00:00:00Z","tableMetadata":{"partitioning":""" +
      """"{\"before\":[\"date\"],\"after\":[\"kind\"]}"},"operations":[]}"""
    Files.write(logFile, torn.getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)

    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("date")
    // ordinary writes keep working under the real scheme (and repair the tail)
    Seq(Event(2, "y", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v2"))
    VersionedReader(spark, log).read(t).count() shouldBe 2L
    boundaries(log, t) shouldBe Nil
    new String(Files.readAllBytes(logFile), "UTF-8") should not include "never-landed"
  }

  test("evolve conflicts with ANY intervening commit — disjoint new partitions included — and rolls back its intent") {
    val (ctx, log) = fresh()
    val t = table("evo_whole_table", "date")
    ctx.init(t, user, UpdateMessage("init"))
    Seq(Event(1, "x", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    // the competing writer lands a BRAND-NEW partition (disjoint from the
    // rewrite's read state) inside evolve's stage window
    var fired = false
    val racy = ctx.copy(newVersion = () => {
      if (!fired) {
        fired = true
        Seq(Event(50, "z", "2024-06-01")).toDS()
          .versionedInsertInto(ctx, t, user, UpdateMessage("racing insert"))
        ()
      }
      Version.generateVersion()
    })

    val boom = intercept[TableVersions.ConcurrentWriteException] {
      PartitionEvolution.evolve(
        spark, racy, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    }
    boom.getMessage should include("overlaps this write's scope")

    // nothing landed: no boundary commit, the scheme never flips, and
    // BOTH rows live under the old scheme
    boundaries(log, t) shouldBe Nil
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("date")
    VersionedReader(spark, log).read(t).count() shouldBe 2L
    // and a clean evolve afterwards succeeds, carrying every row across
    val evolved = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    VersionedReader(spark, log).read(evolved).count() shouldBe 2L
  }
  // ---- metadata-only evolution: era-union reads (round 15) ----

  test("evolveMetadataOnly flips the scheme with an O(metadata) boundary; reads union the eras") {
    val (ctx, log) = fresh()
    val t = table("evo_meta", "date")
    ctx.init(t, user, UpdateMessage("init"))
    val era1 = (1L to 20L).map(i =>
      Event(i, if (i % 2 == 0) "x" else "y", if (i % 4 == 0) "2024-01-01" else "2024-01-02"))
    era1.toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val preBoundary = log.currentCommit(t.name)
    val oldVersions = log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }

    val evolved = PartitionEvolution.evolveMetadataOnly(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    evolved.partitionSchema.columns.map(_.name) shouldBe List("kind")
    // the boundary commit carries NO ops — no data moved, old dirs stay
    log.updates(t.name).head.message.content should include("METADATA ONLY")
    val afterBoundary = log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other                        => fail(s"unexpected $other")
    }
    afterBoundary shouldBe oldVersions

    // post-boundary writes land NEW-scheme dirs beside the old ones
    val era2 = (21L to 30L).map(i => Event(i, if (i % 2 == 0) "x" else "z", "2024-02-01"))
    era2.toDS().versionedInsertInto(ctx, evolved, user, UpdateMessage("v2"))
    val mixed = log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) => pvs.keys.map(_.hivePath).toSet
      case other                        => fail(s"unexpected $other")
    }
    mixed should contain allOf ("date=2024-01-01", "date=2024-01-02", "kind=x", "kind=z")

    // the full read unions both eras with the complete logical column set
    val reader = VersionedReader(spark, log)
    val rows = reader.read(evolved).as[Event].collect().sortBy(_.id)
    rows shouldBe (era1 ++ era2).sortBy(_.id).toArray

    // time travel to the pre-boundary commit reads the old era alone
    reader.readAsOf(t, preBoundary).as[Event].collect().sortBy(_.id) shouldBe era1.toArray

    // a stale writer holding the pre-boundary definition still refuses
    (the[IllegalStateException] thrownBy {
      Seq(Event(99, "q", "2024-03-03")).toDS()
        .versionedInsertInto(ctx, t, user, UpdateMessage("stale"))
    }).getMessage should include("stale scheme")
  }

  test("DV deletes compose with a mixed fold: per-era pointer capture keeps merge-on-read exact") {
    val (ctx, log) = fresh()
    val t = table("evo_meta_dv", "date")
    ctx.init(t, user, UpdateMessage("init"))
    (1L to 10L).map(i => Event(i, "a", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val evolved = PartitionEvolution.evolveMetadataOnly(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    (11L to 14L).map(i => Event(i, "b", "2024-02-01")).toDS()
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("v2"))

    // delete rows from BOTH eras through one predicate
    DeletionVectors.delete(
      ctx, log, evolved, col("id") <= 2 || col("id") === 12L,
      user, UpdateMessage("dv: drop 1,2,12"))
    val ids = DeletionVectors.read(spark, log, evolved)
      .select("id").as[Long].collect().sorted
    ids shouldBe Array(3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 11L, 13L, 14L)
  }

  test("a mixed fold refuses rewrites loudly and consolidateEras restores them") {
    val (ctx, log) = fresh()
    val t = table("evo_meta_consolidate", "date")
    ctx.init(t, user, UpdateMessage("init"))
    (1L to 12L).map(i => Event(i, if (i % 2 == 0) "x" else "y", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val evolved = PartitionEvolution.evolveMetadataOnly(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    (13L to 16L).map(i => Event(i, "x", "2024-02-01")).toDS()
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("v2"))
    DeletionVectors.delete(
      ctx, log, evolved, col("id") === 1L, user, UpdateMessage("dv: drop 1"))

    (the[IllegalStateException] thrownBy {
      Compaction.compact(spark, ctx, evolved, user, UpdateMessage("opt"))
    }).getMessage should include("consolidateEras")
    (the[IllegalStateException] thrownBy {
      Merge.mergeInto(ctx, log, evolved,
        Seq(Event(99, "x", "2024-02-01")).toDF(), Seq("id"), user, UpdateMessage("m"))
    }).getMessage should include("consolidateEras")

    PartitionEvolution.consolidateEras(spark, ctx, evolved, user)
    val fold = log.currentVersion(t.name) match {
      case PartitionedTableVersion(pvs) => pvs.keys.map(_.hivePath).toSet
      case other                        => fail(s"unexpected $other")
    }
    all(fold) should startWith("kind=")
    val reader = VersionedReader(spark, log)
    reader.read(evolved).select("id").as[Long].collect().sorted shouldBe (2L to 16L).toArray
    // rewrites work again post-consolidation
    Compaction.compact(spark, ctx, evolved, user, UpdateMessage("opt2"))
    reader.read(evolved).count() shouldBe 15L
  }

  test("SQL: SET PARTITIONED BY ... METADATA ONLY flips the scheme without moving the fold") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    spark.conf.set("spark.sql.catalog.graftevometa", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftevometa", log)
    val t = table("evo_sql_meta", "date")
    ctx.init(t, user, UpdateMessage("init"))
    // declared schema: partition VALUES are strings in the version model;
    // without a registration the delegate's dir inference would type
    // date-shaped values as DATE and refuse string inserts
    GraftTableCatalog.register("graftevometa", t, Some(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.StringType)))))
    (1L to 12L).map(i => Event(i, if (i % 2 == 0) "even" else "odd", "2024-01-01"))
      .toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val foldBefore = log.currentVersion(t.name)

    val out = spark.sql(
      "ALTER TABLE graftevometa.test.evo_sql_meta SET PARTITIONED BY (kind) METADATA ONLY")
      .collect().head
    (out.getString(0), out.getString(1)) shouldBe (("date", "kind"))
    log.currentVersion(t.name) shouldBe foldBefore // no rewrite commit

    // SQL reads union the eras; SQL writes land new-scheme dirs
    spark.sql("SELECT count(*) FROM graftevometa.test.evo_sql_meta").head.getLong(0) shouldBe 12L
    spark.sql(
      "INSERT INTO graftevometa.test.evo_sql_meta (id, kind, date) VALUES (99, 'zz', '2024-02-02')")
    spark.sql("SELECT count(*) FROM graftevometa.test.evo_sql_meta").head.getLong(0) shouldBe 13L
    PartitionEvolution.eraSignatures(log.currentVersion(t.name)) shouldBe
      Set(List("date"), List("kind"))

    // the SQL spelling of the deferred rewrite unifies the fold in place
    spark.sql("ALTER TABLE graftevometa.test.evo_sql_meta CONSOLIDATE PARTITION ERAS")
      .collect().head.getString(0) shouldBe "consolidated"
    PartitionEvolution.eraSignatures(log.currentVersion(t.name)) shouldBe
      Set(List("kind"))
    spark.sql("SELECT count(*) FROM graftevometa.test.evo_sql_meta").head.getLong(0) shouldBe 13L
    // rewrite-shaped ops work again, straight from SQL
    spark.sql("OPTIMIZE graftevometa.test.evo_sql_meta")
    spark.sql("SELECT count(*) FROM graftevometa.test.evo_sql_meta").head.getLong(0) shouldBe 13L
    // idempotent: a second consolidation is a loud no-op, not a rewrite
    spark.sql("ALTER TABLE graftevometa.test.evo_sql_meta CONSOLIDATE PARTITION ERAS")
      .collect().head.getString(0) shouldBe "noop"
  }

  test("two concurrent evolves: the loser conflicts loudly and its rollback never clobbers the winner") {
    val (ctx, log) = fresh()
    val t = table("evo_double", "date")
    ctx.init(t, user, UpdateMessage("init"))
    (1L to 8L).map(i => Event(i, if (i % 2 == 0) "x" else "y", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    // evolve B (to id-parity via kind) lands INSIDE evolve A's stage window
    var fired = false
    val racy = ctx.copy(newVersion = () => {
      if (!fired) {
        fired = true
        PartitionEvolution.evolve(
          spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
        ()
      }
      Version.generateVersion()
    })
    intercept[TableVersions.ConcurrentWriteException] {
      PartitionEvolution.evolve(
        spark, racy, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    }

    // the WINNER's boundary is the only one in the log, and its era governs
    boundaries(log, t) shouldBe List("EVOLVE PARTITIONING to (kind) from (date)")
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    val evolved = t.copy(partitionSchema = PartitionSchema(List(PartitionColumn("kind"))))
    VersionedReader(spark, log).read(evolved).count() shouldBe 8L
    // and the table keeps evolving normally afterwards
    Seq(Event(9, "z", "2024-02-01")).toDS()
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("v2"))
    VersionedReader(spark, log).read(evolved).count() shouldBe 9L
  }

  test("a mixed fold refuses SQL UPDATE / DELETE / conditional MERGE until consolidation") {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    spark.conf.set("spark.sql.catalog.graftevodml", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftevodml", log)
    val t = table("evo_dml_mixed", "date")
    ctx.init(t, user, UpdateMessage("init"))
    GraftTableCatalog.register("graftevodml", t, Some(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.StringType)))))
    (1L to 8L).map(i => Event(i, if (i % 2 == 0) "x" else "y", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    // the SQL boundary re-registers the catalog under the new scheme, so
    // the post-consolidation DML below plans against the right layout
    spark.sql(
      "ALTER TABLE graftevodml.test.evo_dml_mixed SET PARTITIONED BY (kind) METADATA ONLY")
    val evolved = t.copy(partitionSchema = PartitionSchema(List(PartitionColumn("kind"))))
    Seq(Event(9, "z", "2024-02-01")).toDS()
      .versionedInsertInto(ctx, evolved, user, UpdateMessage("v2"))
    PartitionEvolution.eraSignatures(log.currentVersion(t.name)).size shouldBe 2

    // copy-on-write UPDATE would re-land old-era rows into new-scheme dirs
    // and leave the old copies referenced — silent duplication; refuse
    (the[IllegalStateException] thrownBy {
      spark.sql("UPDATE graftevodml.test.evo_dml_mixed SET id = 100 WHERE id = 1")
    }).getMessage should include("consolidateEras")
    // row-level DELETE would remove only the new-scheme copies — the
    // old-era dirs would resurrect the rows; refuse
    (the[IllegalStateException] thrownBy {
      spark.sql("DELETE FROM graftevodml.test.evo_dml_mixed WHERE id = 2")
    }).getMessage should include("consolidateEras")
    // the conditional-clause MERGE has the same partition arithmetic
    (the[IllegalStateException] thrownBy {
      Merge.mergeConditional(
        ctx, log, evolved, Seq(Event(1, "x", "2024-01-01")).toDF(), Seq("id"),
        matched = Seq(Merge.WhenMatched(None, None)), notMatched = Nil)
    }).getMessage should include("consolidateEras")
    // a PARTITION-VALUE-only predicate must not slip onto the metadata
    // path: it would drop only current-scheme dirs and silently leave
    // old-era rows alive — on a mixed fold it routes to the row-level
    // command, which refuses copy-on-write...
    (the[IllegalStateException] thrownBy {
      spark.sql("DELETE FROM graftevodml.test.evo_dml_mixed WHERE kind = 'x'")
    }).getMessage should include("consolidateEras")
    // nothing committed by the refusals; state intact
    VersionedReader(spark, log).read(evolved).count() shouldBe 9L
    // ...and the same partition-value delete succeeds under merge-on-read
    // (deletion vectors resolve per era — row 9's DVs hide it everywhere)
    spark.conf.set("spark.graft.dml.mergeOnRead", "true")
    try {
      spark.sql("DELETE FROM graftevodml.test.evo_dml_mixed WHERE kind = 'z'")
      graft.spark.DeletionVectors.read(spark, log, evolved).count() shouldBe 8L
    } finally spark.conf.unset("spark.graft.dml.mergeOnRead")

    // consolidation restores all three (and absorbs the DV delete)
    PartitionEvolution.consolidateEras(spark, ctx, evolved, user)
    VersionedReader(spark, log).read(evolved).count() shouldBe 8L
    spark.sql("UPDATE graftevodml.test.evo_dml_mixed SET id = 200 WHERE id = 1")
    spark.sql("DELETE FROM graftevodml.test.evo_dml_mixed WHERE id = 2")
    Merge.mergeConditional(
      ctx, log, evolved, Seq(Event(3, "x", "2024-01-01")).toDF(), Seq("id"),
      matched = Seq(Merge.WhenMatched(None, None)), notMatched = Nil)
    VersionedReader(spark, log).read(evolved).count() shouldBe 6L
  }

  test("registry rewrites never drop a racer's just-appended intent (merge-by-union)") {
    val (ctx, log) = fresh()
    val t = table("evo_registry_merge", "date")
    ctx.init(t, user, UpdateMessage("init"))
    (1L to 6L).map(i => Event(i, if (i % 2 == 0) "x" else "y", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    // a racer's STAGED (detached) boundary appended just before ours: our
    // append never rewrites it away, and it never governs the mainline
    val racer = TableVersions.TableUpdate(
      UserId("racer"), UpdateMessage("racer staged boundary"), java.time.Instant.now(), Nil)
      .withTableMetadata(MetadataFiles.partitioning.entry(
        MetadataFiles.Change(List("date"), List("region"))))
    log.commitDetached(t.name, racer)

    val evolved = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    VersionedReader(spark, log).read(evolved).count() shouldBe 6L
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    log.updates(t.name).map(_.id) should contain(racer.metadata.id)
    boundaries(log, t) shouldBe List(
      "EVOLVE PARTITIONING to (kind) from (date)", "racer staged boundary")
    // the staged era resolves only for an audit read of its own commit
    PartitionEvolution.schemeAt(spark, log, t, Some(racer.metadata.id))
      .columns.map(_.name) shouldBe List("region")
  }

  test("an EMPTY table evolves twice at the same commit: the second boundary still lands") {
    val (ctx, log) = fresh()
    val t = table("evo_empty_twice", "date")
    ctx.init(t, user, UpdateMessage("init"))
    // no data commits: each boundary is an empty-ops commit of its own,
    // so a second evolve (and a cycle back) can never be mistaken for an
    // idempotent retry of the first
    val toKind = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    val toId = PartitionEvolution.evolve(
      spark, ctx, toKind, PartitionSchema(List(PartitionColumn("id"))), user)
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("id")
    // a CYCLE back to the ORIGINAL scheme: (date) was the scheme before
    // the first boundary, but (id) governs until a new boundary lands
    val backToDate = PartitionEvolution.evolve(
      spark, ctx, toId, PartitionSchema(List(PartitionColumn("date"))), user)
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("date")
    boundaries(log, t).size shouldBe 3
    // writes under the final scheme work; the stale handles refuse
    Seq(Event(1, "x", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, backToDate, user, UpdateMessage("v1"))
    VersionedReader(spark, log).read(backToDate).count() shouldBe 1L
    (the[IllegalStateException] thrownBy {
      Seq(Event(2, "y", "2024-01-01")).toDS()
        .versionedInsertInto(ctx, toKind, user, UpdateMessage("stale"))
    }).getMessage should include("stale scheme")
  }

  test("registry lock: a racer's FULL write+verify cycle inside our read→rename window blocks; both edits survive") {
    // the racer shares our LOCATION (a shallow clone — the case that once
    // shared one era file) and runs a whole evolve inside our read→commit
    // window; each lineage's boundary lands in its own log, so both edits
    // survive and neither era leaks into the other
    val (ctx, log) = fresh()
    val t = table("evo_registry_lock", "date")
    ctx.init(t, user, UpdateMessage("init"))
    (1L to 6L).map(i => Event(i, if (i % 2 == 0) "x" else "y", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val fork = ShallowClone.clone(spark, ctx, t, TableName("test", "evo_registry_lock_fork"), user)

    var racerDone = false
    val racy = ctx.copy(newVersion = () => {
      if (!racerDone) {
        PartitionEvolution.evolve(
          spark, ctx, fork, PartitionSchema(List(PartitionColumn("id"))), user)
        racerDone = true
      }
      Version.generateVersion()
    })
    val evolved = PartitionEvolution.evolve(
      spark, racy, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    racerDone shouldBe true

    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    PartitionEvolution.schemeAt(spark, log, fork, None)
      .columns.map(_.name) shouldBe List("id")
    VersionedReader(spark, log).read(evolved).count() shouldBe 6L
    VersionedReader(spark, log).read(
      PartitionEvolution.definitionAt(spark, log, fork)).count() shouldBe 6L
    boundaries(log, t) shouldBe List("EVOLVE PARTITIONING to (kind) from (date)")
    boundaries(log, fork) shouldBe List("EVOLVE PARTITIONING to (id) from (date)")
  }

  test("a racer's rename landing AFTER our registry publish is detected and re-merged (verify-retry)") {
    // the declaration commit's CAS retry: a racer's constraint add lands
    // after our fold and before our append; our pointer CAS fails, and
    // the retry re-merges our edit onto the racer's
    val hooked = new HookedTableVersions(new InMemoryTableVersions)
    val ctx = VersionContext(VersionedMetastore(hooked, new InMemoryMetastore))
    val t = table("evo_registry_retry", "date")
    ctx.init(t, user, UpdateMessage("init"))
    var fired = 0
    hooked.beforeAppend = _ => {
      fired += 1
      Constraints.add(spark, ctx, t, Constraints.check("racer_check", "id > 0"), user)
    }
    Constraints.add(spark, ctx, t, Constraints.notNull("id"), user)
    fired shouldBe 1

    // our edit was re-merged against the racer's content: both survive
    Constraints.list(spark, hooked, t).map(_.name).toSet shouldBe Set("racer_check", "id_not_null")
  }

}
