package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

final case class VsRow(id: Long, n: Int, kind: String, day: String)

/** [[VersionedScan]] plans the relations the fold names: one per
  * (partition era, data schema) over version dirs and overlay leaves
  * alike, and `(file, pos)` pointers only when the caller asks for them
  * or a deletion vector is live. Each case pins the plan's structure as
  * well as its rows. */
class VersionedScanSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("scan-test")

  private def fresh(
      name: String,
      partitioned: Boolean = true): (VersionContext, TableVersions, TableDefinition) = {
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("scan", name),
      Files.createTempDirectory(s"graft_scan_$name").toUri,
      if (partitioned) PartitionSchema(List(PartitionColumn("day"))) else PartitionSchema(Nil),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    (ctx, log, table)
  }

  private def rows(from: Long, to: Long, days: Int): Seq[VsRow] =
    (from to to).map(i => VsRow(i, i.toInt % 7, s"k${i % 3}", s"2024-01-0${i % days + 1}"))

  /** The table-file relations of `df`'s plan (pair-sidecar scans left out). */
  private def relations(df: DataFrame): Seq[LogicalRelation] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation if (l.relation match {
        case h: HadoopFsRelation => !h.location.rootPaths.exists(_.toString.contains("/_deletes/"))
        case _                   => false
      }) => l
    }

  private def sorted(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq.sorted

  test("a read of a table with no vectors attaches no _metadata; a live vector brings it") {
    val (ctx, log, table) = fresh("no_vectors")
    rows(1, 40, 4).toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    val clean = DeletionVectors.read(spark, log, table)
    relations(clean).flatMap(_.output).map(_.name) should not contain "_metadata"
    clean.columns.toSeq shouldBe Seq("id", "n", "kind", "day")
    clean.count() shouldBe 40L

    DeletionVectors.delete(ctx, log, table, col("id") <= 5, user, UpdateMessage("dv"))
    val hidden = DeletionVectors.read(spark, log, table)
    relations(hidden).flatMap(_.output).map(_.name) should contain("_metadata")
    hidden.columns.toSeq shouldBe Seq("id", "n", "kind", "day")
    hidden.count() shouldBe 35L
  }

  test("the SQL DELETE touched-set pass on a table with no vectors scans only its columns") {
    val cat = "graftscanspec"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind(
      cat, VersionedMetastore(new InMemoryTableVersions, new InMemoryMetastore))
    val loc = Files.createTempDirectory("graft_scan_sql_delete").toUri
    val t = s"$cat.db.del"
    spark.sql(s"CREATE TABLE $t (id BIGINT, kind STRING, p STRING) USING parquet " +
      s"PARTITIONED BY (p) LOCATION '$loc'")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'x'), (3, 'c', 'y'), (4, 'd', 'z')")

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.sql(s"DELETE FROM $t WHERE kind = 'b'")
      org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)

    def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec        => nodes(s.plan)
      case other                    => other.children.flatMap(nodes)
    })
    import scala.jdk.CollectionConverters._
    val scans = plans.asScala.toList.flatMap(nodes).collect { case s: FileSourceScanExec => s }
    scans should not be empty
    scans.foreach(s => s.output.map(_.name).toSet.subsetOf(Set("id", "kind", "p")) shouldBe true)
    spark.table(t).select("id").as[Long].collect().sorted shouldBe Array(1L, 3L, 4L)
  }

  test("version dirs and eight same-schema overlay dirs plan as one relation") {
    val (ctx, log, table) = fresh("eight_overlays")
    rows(1, 40, 4).toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    (1 to 8).foreach { k =>
      RowOverlay.append(
        rows(100L * k, 100L * k + 3, 4).toDF(), ctx, table, user, UpdateMessage(s"append $k"))
    }
    RowOverlay.contributions(spark, log, table, None) should have size 8
    val read = VersionedReader(spark, log).read(table)
    relations(read) should have size 1
    read.count() shouldBe 40L + 8 * 4
    // a partition filter prunes overlay leaves and version dirs alike
    val day = read.where(col("day") === "2024-01-01")
    relations(day) should have size 1
    day.count() shouldBe rows(1, 40, 4).count(_.day == "2024-01-01") +
      (1 to 8).flatMap(k => rows(100L * k, 100L * k + 3, 4)).count(_.day == "2024-01-01")
  }

  test("a snapshot table with overlay dirs plans as one relation") {
    val (ctx, log, table) = fresh("snapshot_overlays", partitioned = false)
    rows(1, 10, 1).toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    (1 to 3).foreach { k =>
      RowOverlay.append(
        rows(100L * k, 100L * k + 1, 1).toDF(), ctx, table, user, UpdateMessage(s"append $k"))
    }
    val read = DeletionVectors.read(spark, log, table)
    relations(read) should have size 1
    read.count() shouldBe 16L
  }

  test("a mixed-era fold plans one relation per era") {
    val (ctx, log, t) = fresh("mixed_eras")
    val era1 = rows(1, 20, 2)
    era1.toDS().versionedInsertInto(ctx, t, user, UpdateMessage("v1"))
    val evolved = PartitionEvolution.evolveMetadataOnly(
      spark, ctx, t, PartitionSchema(List(PartitionColumn("kind"))), user)
    val era2 = rows(21, 30, 2)
    era2.toDS().versionedInsertInto(ctx, evolved, user, UpdateMessage("v2"))
    val read = VersionedReader(spark, log).read(evolved)
    relations(read) should have size 2
    read.as[VsRow].collect().sortBy(_.id) shouldBe (era1 ++ era2).sortBy(_.id).toArray
  }

  test("an overlay dir under an older record reads in its own group, widened and NULL-filled") {
    val (ctx, log, table) = fresh("schema_groups")
    rows(1, 20, 2).toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    // overlay rows under the first record: n is an int
    RowOverlay.append(rows(100, 103, 2).toDF(), ctx, table, user, UpdateMessage("append"))
    // widen n, then a write that adds a column and lands bigint files
    ColumnMapping.widen(spark, ctx, table, "n", "bigint", user)
    rows(1, 6, 2).toDF().where(col("day") === "2024-01-01")
      .withColumn("n", col("n").cast("bigint")).withColumn("extra", col("id") * 10)
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2 adds extra"))

    val read = VersionedReader(spark, log).read(table)
    relations(read) should have size 2
    read.schema("n").dataType shouldBe org.apache.spark.sql.types.LongType
    val got = read.select("id", "n", "extra").as[(Long, Long, Option[Long])].collect().sortBy(_._1)
    // day 2024-01-01 was replaced by the second write, taking its overlay rows
    // with it; day 2024-01-02 keeps its version dir and overlay rows
    val expected =
      rows(1, 6, 2).filter(_.day == "2024-01-01").map(r => (r.id, r.n.toLong, Some(r.id * 10))) ++
        (rows(1, 20, 2) ++ rows(100, 103, 2)).filter(_.day == "2024-01-02")
          .map(r => (r.id, r.n.toLong, Option.empty[Long]))
    got.toSeq shouldBe expected.sortBy(_._1)
  }

  test("pointed partition-subset reads match DeletionVectors.read at the head and as of a commit") {
    val (ctx, log, table) = fresh("pointers")
    rows(1, 60, 3).toDS().versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    RowOverlay.append(rows(100, 108, 3).toDF(), ctx, table, user, UpdateMessage("append"))
    DeletionVectors.delete(ctx, log, table, col("id") % 5 === 0, user, UpdateMessage("dv"))
    ColumnMapping.rename(spark, ctx, table, "kind", "label", user)
    ColumnMapping.widen(spark, ctx, table, "n", "bigint", user)
    val travelled = log.currentCommit(table.name)
    DeletionVectors.delete(ctx, log, table, col("id") % 7 === 0, user, UpdateMessage("dv 2"))

    val subset = Set("2024-01-01", "2024-01-03")
      .map(d => Partition(List(ColumnValue(PartitionColumn("day"), d))))
    def check(at: Option[TableVersions.CommitId]): Unit = {
      val pointed = VersionedScan(
        spark, log, table, at, partitions = Some(subset), pointers = true,
        names = VersionedScan.Names.AtState)
      pointed.columns.toSeq shouldBe
        Seq("id", "n", "label", "day", VersionedScan.FileCol, VersionedScan.PosCol)
      pointed.schema("n").dataType shouldBe org.apache.spark.sql.types.LongType
      val expected = ColumnMapping.read(spark, log, table, at)
        .where(col("day").isin(subset.map(_.columnValues.head.value).toSeq: _*))
      sorted(pointed.drop(VersionedScan.FileCol, VersionedScan.PosCol)) shouldBe sorted(expected)
      // every visible row carries its own pointer, and no live vector names one
      val ptrs = pointed.select(
        col(VersionedScan.FileCol).as("file"), col(VersionedScan.PosCol).as("pos"))
      ptrs.distinct().count() shouldBe expected.count()
      val pairs = DeletionVectors.resolvePairs(spark, log, table, at).get
      ptrs.join(pairs, Seq("file", "pos")).count() shouldBe 0L
      ptrs.where(col("file").contains("/_appends/")).count() should be > 0L
    }
    check(None)
    check(Some(travelled))
  }
}
