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

  // ---- intent-then-commit crash/race coverage (round 15) ----

  private def registryPath(t: TableDefinition) =
    Paths.get(t.location).resolve("_partitioning.json")

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
    val (ctx, log) = fresh()
    val t = table("evo_crash_finalize", "date")
    ctx.init(t, user, UpdateMessage("init"))
    Seq(Event(1, "x", "2024-01-01"), Event(2, "y", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)

    // simulate the crash: un-finalize the boundary entry (pending=true is
    // exactly the on-disk state between commit and finalize)
    val text = new String(Files.readAllBytes(registryPath(t)), "UTF-8")
    text should not include "pending"
    val unfinalized = text.replace("{\"commit\"", "{\"pending\":true,\"commit\"")
    Files.write(registryPath(t), unfinalized.getBytes("UTF-8"))

    // a landed pending state governs — and resolution finalizes the file
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    new String(Files.readAllBytes(registryPath(t)), "UTF-8") should not include "pending"
  }

  test("a dangling pending intent (crash before the boundary commit) never governs") {
    val (ctx, log) = fresh()
    val t = table("evo_dangling", "date")
    ctx.init(t, user, UpdateMessage("init"))
    Seq(Event(1, "x", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    // what a crashed evolve leaves: a pending state whose anchor never landed
    val intent = "[{\"commit\":\"never-landed-commit\",\"table\":\"test.evo_dangling\"," +
      "\"pending\":true,\"columns\":[\"kind\"]}]"
    Files.write(registryPath(t), intent.getBytes("UTF-8"))

    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("date")
    // ordinary writes keep working under the real scheme
    Seq(Event(2, "y", "2024-01-02")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v2"))
    VersionedReader(spark, log).read(t).count() shouldBe 2L
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

    // intent rolled back: the registry never flips the scheme, no pending
    // entry survives, and BOTH rows live under the old scheme
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("date")
    if (Files.exists(registryPath(t)))
      new String(Files.readAllBytes(registryPath(t)), "UTF-8") should not include "pending"
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

    // the WINNER's era governs; the loser's surgical rollback left no
    // pending garbage and did not drop the winner's registry state
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    new String(Files.readAllBytes(registryPath(t)), "UTF-8") should not include "pending"
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

    // what a concurrent evolve (or a shared-location clone mid-commit)
    // leaves in the file the instant before OUR evolve rewrites it: a
    // pending intent whose anchor is not in OUR log. The old registry
    // writer pruned these wholesale — permanently erasing a racer's
    // committed-but-unfinalized state; the merged writer must carry it.
    val foreign = "[{\"commit\":\"racer-in-flight-commit\",\"table\":\"test.someone_else\"," +
      "\"pending\":true,\"columns\":[\"region\"]}]"
    Files.write(registryPath(t), foreign.getBytes("UTF-8"))

    val evolved = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    VersionedReader(spark, log).read(evolved).count() shouldBe 6L
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")

    // the racer's intent SURVIVED every registry rewrite of the evolve
    // (intent append, finalize) — and still never governs this lineage
    val text = new String(Files.readAllBytes(registryPath(t)), "UTF-8")
    text should include("racer-in-flight-commit")
    text should include("test.someone_else")
  }

  test("an EMPTY table evolves twice at the same commit: the second boundary still lands") {
    val (ctx, log) = fresh()
    val t = table("evo_empty_twice", "date")
    ctx.init(t, user, UpdateMessage("init"))
    // no data commits: both boundaries are registry-only, anchored at the
    // SAME read commit — the idempotence check must match on (anchor,
    // columns), not anchor alone, or the second evolve silently no-ops
    val toKind = PartitionEvolution.evolve(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    val toId = PartitionEvolution.evolve(
      spark, ctx, toKind, PartitionSchema(List(PartitionColumn("id"))), user)
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("id")
    // a CYCLE back to the ORIGINAL scheme at the same anchor: the seed
    // entry already says (date) but (id) still governs — the idempotence
    // check must compare the GOVERNING (last) entry at the anchor, not
    // any historical one, or this evolve silently no-ops
    val backToDate = PartitionEvolution.evolve(
      spark, ctx, toId, PartitionSchema(List(PartitionColumn("date"))), user)
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("date")
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
    // the round-16 `weak`: without mutual exclusion, a racer that
    // completes its whole cycle (write + verify-own-edit passes) inside
    // our re-read→rename gap is silently clobbered by our rename. The
    // MetadataLock serializes whole cycles, so the injected racer BLOCKS
    // until ours releases — then lands, and both edits survive.
    val (ctx, log) = fresh()
    val t = table("evo_registry_lock", "date")
    ctx.init(t, user, UpdateMessage("init"))
    (1L to 6L).map(i => Event(i, if (i % 2 == 0) "x" else "y", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    val racerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    var racer: Thread = null
    var blockedWhileHeld = false
    var fired = false
    val inject: () => Unit = () => {
      if (!fired) {
        fired = true
        racer = new Thread {
          override def run(): Unit = {
            // a full registry update of its own (cloneStateTo goes
            // through the store's locked update): must serialize behind
            // our lock
            PartitionEvolution.cloneStateTo(
              spark, t,
              PartitionEvolution.SchemeState("racer-anchor", List("region"), None),
              graft.core.TableVersions.CommitId("racer-anchor"),
              TableName("test", "other"))
            racerDone.set(true)
          }
        }
        racer.start()
        Thread.sleep(300) // give the racer time to reach the lock
        blockedWhileHeld = !racerDone.get() // still waiting = excluded
      }
    }
    val evolved = MetadataFiles.beforePublishForTest.withValue(_ => inject()) {
      PartitionEvolution.evolve(
        spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    }
    racer.join(60000)
    racerDone.get() shouldBe true
    blockedWhileHeld shouldBe true

    // both edits survived: the evolve governs, the racer's entry persists
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    VersionedReader(spark, log).read(evolved).count() shouldBe 6L
    val text = new String(Files.readAllBytes(registryPath(t)), "UTF-8")
    text should include("racer-anchor")
    // the lock file released
    Files.exists(
      registryPath(t).getParent.resolve("._partitioning.json.lock")) shouldBe false
  }

  test("a racer's rename landing AFTER our registry publish is detected and re-merged (verify-retry)") {
    val (ctx, log) = fresh()
    val t = table("evo_registry_retry", "date")
    ctx.init(t, user, UpdateMessage("init"))
    (1L to 6L).map(i => Event(i, if (i % 2 == 0) "x" else "y", "2024-01-01")).toDS()
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))

    // the racer: a whole-file rename landing in the publish→verify window,
    // built from a read that PREDATES our write — the atomic-rename loser
    // scenario the merge-by-union retry exists for. Fire once per distinct
    // registry rewrite (the evolve performs several), clobbering each.
    val racer = "{\"commit\":\"racer-clobber-commit\",\"table\":\"test.other\"," +
      "\"pending\":true,\"columns\":[\"region\"]}"
    var fired = 0
    val clobber: () => Unit = () => {
      // overwrite with ONLY the racer's content: our just-published edit
      // is gone, exactly as if the racer's rename landed second
      if (fired < 3) {
        fired += 1
        Files.write(registryPath(t), s"[$racer]".getBytes("UTF-8"))
      }
    }
    val evolved = MetadataFiles.afterPublishForTest.withValue(_ => clobber()) {
      PartitionEvolution.evolve(
        spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    }
    fired should be >= 1

    // our edits were re-merged against the racer's content: the new era
    // governs AND the racer's entry survived
    PartitionEvolution.schemeAt(spark, log, t, None)
      .columns.map(_.name) shouldBe List("kind")
    VersionedReader(spark, log).read(evolved).count() shouldBe 6L
    val text = new String(Files.readAllBytes(registryPath(t)), "UTF-8")
    text should include("racer-clobber-commit")
  }
}
