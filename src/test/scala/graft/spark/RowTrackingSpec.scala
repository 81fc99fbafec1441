package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, when}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class RowTrackingSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("rowtrack-test")

  private def fresh(name: String): (VersionContext, InMemoryTableVersions, TableDefinition) = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = TableDefinition(
      TableName("test", name),
      Files.createTempDirectory(s"graft_rt_$name").toUri,
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    (ctx, log, t)
  }

  private def rows(t: TableDefinition, log: TableVersions,
      asOf: Option[TableVersions.CommitId] = None) =
    DeletionVectors.read(spark, log, t, asOf)

  test("keyless CDF: a read-modify-write rewrite pairs updates by row id; untouched rows vanish") {
    val (ctx, log, t) = fresh("rt_update")
    RowTracking.enable(spark, ctx, t, user)
    RowTracking.insert(
      (1L to 20L).map(i => (i, "k", if (i <= 10) "2024-01-01" else "2024-01-02"))
        .toDF("id", "kind", "date"),
      ctx, t, user, UpdateMessage("b1"))
    // stamped: unique non-null ids
    val ids0 = rows(t, log).select(RowTracking.RowIdCol).as[Long].collect()
    ids0.length shouldBe 20
    ids0.distinct.length shouldBe 20
    val from = log.currentCommit(t.name)

    // read-modify-write of ONE partition: even ids get kind=MOD, every
    // row carries its id back
    val part = rows(t, log).where(col("date") === "2024-01-01")
    RowTracking.insert(
      part.withColumn("kind", when(col("id") % 2 === 0, "MOD").otherwise(col("kind"))),
      ctx, t, user, UpdateMessage("b2: modify evens of 01-01"))

    val feed = ChangeFeed.readTracked(spark, log, t, Some(from), log.currentCommit(t.name))
    val byType = feed.groupBy(ChangeFeed.ChangeTypeCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 5 modified rows (ids 2,4,6,8,10): exact update pairs, nothing else —
    // the 5 untouched carried rows of the rewritten partition netted out
    byType shouldBe Map(
      ChangeFeed.UpdatePre -> 5L, ChangeFeed.UpdatePost -> 5L)
    // pairing is BY ROW ID: one row's images agree on id, differ on kind
    val pre = feed.where(col(ChangeFeed.ChangeTypeCol) === ChangeFeed.UpdatePre)
      .select(col(RowTracking.RowIdCol), col("kind")).as[(Long, String)].collect().toMap
    val post = feed.where(col(ChangeFeed.ChangeTypeCol) === ChangeFeed.UpdatePost)
      .select(col(RowTracking.RowIdCol), col("kind")).as[(Long, String)].collect().toMap
    post.keySet shouldBe pre.keySet
    pre.values.toSet shouldBe Set("k")
    post.values.toSet shouldBe Set("MOD")

    // replay: from-state + feed == to-state, row ids included
    val replayed = ChangeFeed.replay(rows(t, log, Some(from)), feed)
      .orderBy(RowTracking.RowIdCol).collect()
    replayed shouldBe rows(t, log).orderBy(RowTracking.RowIdCol).collect()
  }

  test("DV deletes emit tracked deletes; untracked (null-id) rows never pair as updates") {
    val (ctx, log, t) = fresh("rt_del")
    RowTracking.enable(spark, ctx, t, user)
    RowTracking.insert(
      (1L to 6L).map(i => (i, "a", "2024-01-01")).toDF("id", "kind", "date"),
      ctx, t, user, UpdateMessage("b1"))
    val from = log.currentCommit(t.name)
    DeletionVectors.delete(ctx, log, t, col("id") <= 2, user, UpdateMessage("dv"))
    // an untracked write into ANOTHER partition (raw path, no stamping):
    // its rows carry NULL ids
    Seq((100L, Option.empty[Long], "z", "2024-02-01"))
      .toDF("id", RowTracking.RowIdCol, "kind", "date")
      .versionedInsertInto(ctx, t, user, UpdateMessage("raw"))

    val feed = ChangeFeed.readTracked(spark, log, t, Some(from), log.currentCommit(t.name))
    val byType = feed.groupBy(ChangeFeed.ChangeTypeCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 2 tracked deletes + 1 untracked insert — and NO update pairing
    // between the deleted rows and the null-id insert
    byType shouldBe Map(ChangeFeed.Delete -> 2L, ChangeFeed.Insert -> 1L)
    val replayed = ChangeFeed.replay(rows(t, log, Some(from)), feed)
    replayed.count() shouldBe rows(t, log).count()
  }

  test("enable refuses non-empty tables and double identity; SQL hides the id and stamps on INSERT") {
    val (ctx, log, t) = fresh("rt_sql")
    // non-empty refuses
    Seq((1L, "a", "2024-01-01")).toDF("id", "kind", "date")
      .versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    an[IllegalArgumentException] should be thrownBy RowTracking.enable(spark, ctx, t, user)

    val (ctx2, log2, t2) = fresh("rt_sql2")
    RowTracking.enable(spark, ctx2, t2, user)
    // double identity refuses (one slot — the id IS an identity column)
    an[RuntimeException] should be thrownBy
      IdentityColumns.declare(spark, ctx2, t2, "other_id", user)

    spark.conf.set("spark.sql.catalog.graftrt", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftrt", log2)
    GraftTableCatalog.register("graftrt", t2, Some(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.StringType)))))
    spark.sql("INSERT INTO graftrt.test.rt_sql2 (id, kind, date) VALUES (1, 'a', '2024-01-01')")
    // SELECT * never shows the engine id; the file carries it, stamped
    spark.sql("SELECT * FROM graftrt.test.rt_sql2").columns should not contain RowTracking.RowIdCol
    rows(t2, log2).select(RowTracking.RowIdCol).as[Long].collect() shouldBe Array(1L)
  }
  test("mergeInto on a tracked table: kept rows keep ids, replacements re-id (delete+insert in the feed)") {
    val (ctx, log, t) = fresh("rt_merge")
    RowTracking.enable(spark, ctx, t, user)
    RowTracking.insert(
      (1L to 6L).map(i => (i, s"v$i", "2024-01-01")).toDF("id", "payload", "date"),
      ctx, t, user, UpdateMessage("b1"))
    val from = log.currentCommit(t.name)

    // upsert: replace ids 5,6 and insert 7 (source must NOT carry the id)
    Merge.mergeInto(ctx, log, t,
      Seq((5L, "V5", "2024-01-01"), (6L, "V6", "2024-01-01"), (7L, "v7", "2024-01-01"))
        .toDF("id", "payload", "date"),
      Seq("id"), user, UpdateMessage("upsert"))

    val rows = DeletionVectors.read(spark, log, t)
    rows.count() shouldBe 7L
    val ids = rows.select(RowTracking.RowIdCol).as[Long].collect()
    ids.distinct.length shouldBe 7 // unique across kept + re-minted

    val feed = ChangeFeed.readTracked(spark, log, t, Some(from), log.currentCommit(t.name))
    val byType = feed.groupBy(ChangeFeed.ChangeTypeCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // replacement = delete+insert per replaced row (fresh ids), plus the
    // new insert; untouched kept rows 1..4 net out entirely
    byType shouldBe Map(ChangeFeed.Delete -> 2L, ChangeFeed.Insert -> 3L)
    // a source supplying the id refuses
    (the[IllegalArgumentException] thrownBy Merge.mergeInto(ctx, log, t,
      Seq((8L, 99L, "x", "2024-01-01")).toDF("id", RowTracking.RowIdCol, "payload", "date"),
      Seq("id"), user, UpdateMessage("bad"))).getMessage should include("ALWAYS")
  }

  test("conditional MERGE on a tracked table: SET preserves the id — a true update pair in the feed") {
    val (ctx, log, t) = fresh("rt_cmerge")
    RowTracking.enable(spark, ctx, t, user)
    RowTracking.insert(
      (1L to 6L).map(i => (i, s"v$i", "2024-01-01")).toDF("id", "payload", "date"),
      ctx, t, user, UpdateMessage("b1"))
    val from = log.currentCommit(t.name)

    Merge.mergeConditional(
      ctx, log, t,
      Seq((5L, "V5"), (9L, "v9")).toDF("id", "payload"),
      Seq("id"),
      matched = Seq(Merge.WhenMatched(None, Some(Seq("payload" -> Merge.scol("payload"))))),
      notMatched = Seq(Merge.WhenNotMatched(None, Seq(
        "id" -> Merge.scol("id"), "payload" -> Merge.scol("payload"),
        "date" -> org.apache.spark.sql.functions.lit("2024-01-01")))),
      userId = user,
      message = UpdateMessage("cmerge"))

    val feed = ChangeFeed.readTracked(spark, log, t, Some(from), log.currentCommit(t.name))
    val byType = feed.groupBy(ChangeFeed.ChangeTypeCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the SET row keeps its id -> exact update pair; the new row minted
    byType shouldBe Map(
      ChangeFeed.UpdatePre -> 1L, ChangeFeed.UpdatePost -> 1L, ChangeFeed.Insert -> 1L)
    val ids = DeletionVectors.read(spark, log, t)
      .select(RowTracking.RowIdCol).as[Long].collect()
    ids.distinct.length shouldBe 7

    // clauses must not assign the engine's id
    (the[IllegalArgumentException] thrownBy Merge.mergeConditional(
      ctx, log, t, Seq((5L, "x")).toDF("id", "payload"), Seq("id"),
      matched = Seq(Merge.WhenMatched(None, Some(Seq(
        RowTracking.RowIdCol -> org.apache.spark.sql.functions.lit(0L))))),
      notMatched = Nil, userId = user,
      message = UpdateMessage("bad"))).getMessage should include("ALWAYS")
  }

  test("SQL: ALTER TABLE ... SET ROW TRACKING declares the hidden id; vacuum reclaims crashed temps") {
    val (ctx, log, t) = fresh("rt_ddl")
    spark.conf.set("spark.sql.catalog.graftrtddl", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftrtddl", log)
    GraftTableCatalog.register("graftrtddl", t, Some(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.StringType)))))
    spark.sql("ALTER TABLE graftrtddl.test.rt_ddl SET ROW TRACKING")
      .collect().head.getString(0) shouldBe RowTracking.RowIdCol
    RowTracking.enabled(spark, log, t) shouldBe true
    spark.sql("INSERT INTO graftrtddl.test.rt_ddl (id, kind, date) VALUES (1, 'a', '2024-01-01')")
    rows(t, log).select(RowTracking.RowIdCol).as[Long].collect() shouldBe Array(1L)

    // a crashed writer's staged version dir (written, never committed)
    // reclaims under vacuum
    val staged = Seq((2L, "b", "2024-01-02")).toDF("id", "kind", "date")
      .versionedStage(ctx, t, user, UpdateMessage("crashed before commit"))
    val orphan = staged.update.operations.collect {
      case TableVersions.TableOperation.AddPartitionVersion(p, v) => s"${p.hivePath}/${v.label}"
    }
    orphan should not be empty
    val report = Vacuum.vacuum(t, log, spark.sessionState.newHadoopConf(), graceMs = 0)
    orphan.foreach(dir => report.deleted should contain(dir))
    // the declaration itself survives (only the orphaned dir went)
    RowTracking.enabled(spark, log, t) shouldBe true
  }

  test("SQL table_changes on a tracked table serves the keyless CDF vocabulary") {
    val (ctx, log, t) = fresh("rt_tvf")
    spark.conf.set("spark.sql.catalog.graftrttvf", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftrttvf", log)
    GraftTableCatalog.register("graftrttvf", t)
    RowTracking.enable(spark, ctx, t, user)
    RowTracking.insert(
      (1L to 6L).map(i => (i, s"v$i", "2024-01-01")).toDF("id", "payload", "date"),
      ctx, t, user, UpdateMessage("b1"))
    val from = log.currentCommit(t.name)
    val part = rows(t, log)
    RowTracking.insert(
      part.withColumn("payload",
        when(col("id") === 3L, org.apache.spark.sql.functions.lit("MOD"))
          .otherwise(col("payload"))),
      ctx, t, user, UpdateMessage("b2"))
    val head = log.currentCommit(t.name)

    val byType = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM " +
        s"table_changes('graftrttvf.test.rt_tvf', '${from.id}', '${head.id}') " +
        "GROUP BY _change_type").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byType shouldBe Map(
      ChangeFeed.UpdatePre -> 1L, ChangeFeed.UpdatePost -> 1L)
  }

  test("a USER identity column does not flip the 2-arg table_changes contract (opt-in only)") {
    val (ctx, log, t) = fresh("rt_ident_tvf")
    spark.conf.set("spark.sql.catalog.graftrtident", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind("graftrtident", log)
    GraftTableCatalog.register("graftrtident", t)
    // a user-declared identity column, NOT `SET ROW TRACKING`: pre-existing
    // identity tables must keep the plain insert/delete feed — routing them
    // through the tracked pairing would silently change the TVF's output
    // schema (the id column surfaces) and net rows written by id-agnostic
    // paths
    IdentityColumns.declare(spark, ctx, t, "seq_no", user)
    RowTracking.enabled(spark, log, t) shouldBe true // identity provides ids...
    RowTracking.engineTracked(spark, log, t) shouldBe false // ...but was not opted in

    IdentityColumns.insertWithIdentity(
      (1L to 4L).map(i => (i, s"v$i", "2024-01-01")).toDF("id", "payload", "date"),
      ctx, t, "seq_no", user, UpdateMessage("b1"))
    val from = log.currentCommit(t.name)
    // rewrite the partition unchanged: the PLAIN feed reports the full
    // delete+insert churn; the tracked feed would net it all out
    val carried = rows(t, log).drop("seq_no")
    IdentityColumns.insertWithIdentity(carried, ctx, t, "seq_no", user, UpdateMessage("b2"))
    val head = log.currentCommit(t.name)

    val feed = spark.sql(
      s"SELECT * FROM table_changes('graftrtident.test.rt_ident_tvf', " +
        s"'${from.id}', '${head.id}')")
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byType shouldBe Map(ChangeFeed.Insert -> 4L, ChangeFeed.Delete -> 4L)
  }
}
