package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.CommitId

/** The copy-on-write SQL `DELETE` and `UPDATE` read and rewrite only the
  * partitions they touch: the rewrite's input is a read of the touched
  * partitions' version dirs, never a semi-join over a whole-table scan.
  * Every case checks the rows at the head and at the previous commit, and
  * a change feed over the statement that nets to exactly the changed
  * rows; the write's plan scans no other partition's dir. */
class CowDmlScopeSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session

  private val cat = "graftcowscope"
  private val log = new InMemoryTableVersions
  spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
  GraftTableCatalog.bind(cat, VersionedMetastore(log, new InMemoryMetastore))

  /** A table of `id BIGINT, kind STRING, p STRING` partitioned by `p`,
    * holding rows in the three partitions x, y and z. */
  private def create(name: String): String = {
    val loc = Files.createTempDirectory(s"graft_cowscope_$name").toUri
    val t = s"$cat.db.$name"
    spark.sql(s"CREATE TABLE $t (id BIGINT, kind STRING, p STRING) USING parquet " +
      s"PARTITIONED BY (p) LOCATION '$loc'")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'x'), (3, 'c', 'y'), " +
      "(4, 'd', 'y'), (5, 'e', 'z')")
    t
  }

  private def tableName(sqlName: String): TableName = TableName("db", sqlName.split('.').last)
  private def head(sqlName: String): CommitId = log.currentCommit(tableName(sqlName))

  /** `df`'s rows, its columns sorted by name, without `_`-prefixed ones. */
  private def visible(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(df.columns.filterNot(_.startsWith("_")).sorted.map(df.col): _*)
      .collect().toSeq.map(_.toString).sorted

  /** The change feed over `from` -> `to`, netted per row: inserts count
    * +1, deletes -1, rows that net to zero left out. */
  private def netChanges(name: String, from: CommitId, to: CommitId): Map[String, Int] = {
    val feed = spark.sql(s"SELECT * FROM table_changes('$name', '${from.id}', '${to.id}')")
    (visible(feed.where("_change_type = 'insert'")).map(_ -> 1) ++
      visible(feed.where("_change_type = 'delete'")).map(_ -> -1))
      .groupBy(_._1).map { case (r, ns) => r -> ns.map(_._2).sum }.filter(_._2 != 0)
  }

  private def withMergeOnRead(body: => Any): Unit = {
    spark.conf.set("spark.graft.dml.mergeOnRead", "true")
    try { body; () } finally spark.conf.unset("spark.graft.dml.mergeOnRead")
  }

  /** The Spark jobs `body` runs and the plans of the queries it executes. */
  private def observed(body: => Any): (Int, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val n = TestSpark.jobs(body)
      import scala.jdk.CollectionConverters._
      (n, plans.asScala.toList)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of `plan`, looking into adaptive plans, query stages and
    * cached relations. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => nodes(s.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other                    => other.children.flatMap(nodes)
  })

  /** Run `statement` and check it: the head serves the rows before it with
    * `changed` applied (+1 a row added, -1 a row gone), the previous
    * commit serves the rows before it, and the change feed nets to
    * `changed`. Its write plans scan only dirs of the `touched` partitions
    * (and, with `noBroadcast`, broadcast nothing); it runs at most
    * `maxJobs` Spark jobs. Returns the statement's commit. */
  private def rewrite(
      name: String, statement: String, touched: Set[String], changed: Map[String, Int],
      maxJobs: Int = 3, noBroadcast: Boolean = true): CommitId = {
    val before = visible(spark.table(name))
    val prev = head(name)
    val (jobs, plans) = observed(spark.sql(statement))
    val now = head(name)
    now should not be prev
    val expected = changed.foldLeft(before) {
      case (rows, (r, 1))  => rows :+ r
      case (rows, (r, -1)) => rows.diff(Seq(r))
      case (_, (r, n))     => fail(s"unexpected net change $n of $r")
    }.sorted
    withClue(s"$statement at the head: ")(visible(spark.table(name)) shouldBe expected)
    withClue(s"$statement at the previous commit: ")(
      visible(spark.sql(s"SELECT * FROM $name VERSION AS OF '${prev.id}'")) shouldBe before)
    withClue(s"$statement change feed: ")(netChanges(name, prev, now) shouldBe changed)
    withClue(s"$statement jobs: ")(jobs should be <= maxJobs)
    val writes = plans.map(nodes).filter(_.exists(_.isInstanceOf[DataWritingCommandExec]))
    writes should not be empty
    writes.foreach { w =>
      val roots = w.collect { case s: FileSourceScanExec => s.relation.location.rootPaths }
        .flatten.map(_.toString)
      withClue(s"$statement write plan:\n${w.head}\n") {
        if (noBroadcast) w.collect { case b: BroadcastExchangeExec => b } shouldBe empty
        roots.flatMap(_.split('/')).filter(_.startsWith("p=")).map(_.drop(2)).toSet
          .subsetOf(touched) shouldBe true
      }
    }
    now
  }

  test("a one-partition DELETE and UPDATE read and rewrite only that partition, in three jobs") {
    val t = create("plain")
    rewrite(t, s"DELETE FROM $t WHERE id = 3", Set("y"), Map("[3,c,y]" -> -1))
    rewrite(t, s"UPDATE $t SET kind = 'A' WHERE id = 1", Set("x"),
      Map("[1,a,x]" -> -1, "[1,A,x]" -> 1))
  }

  test("live deletion vectors stay applied: hidden rows are not carried back") {
    val t = create("dv")
    withMergeOnRead(spark.sql(s"DELETE FROM $t WHERE id = 1"))
    rewrite(t, s"DELETE FROM $t WHERE id = 2", Set("x"), Map("[2,b,x]" -> -1),
      maxJobs = Int.MaxValue, noBroadcast = false)
    withMergeOnRead(spark.sql(s"DELETE FROM $t WHERE id = 3"))
    rewrite(t, s"UPDATE $t SET kind = 'D' WHERE p = 'y'", Set("y"),
      Map("[4,d,y]" -> -1, "[4,D,y]" -> 1), maxJobs = Int.MaxValue, noBroadcast = false)
  }

  test("overlay rows of the touched partition are carried; a matching one is deleted or updated") {
    val t = create("overlay")
    withMergeOnRead(spark.sql(s"INSERT INTO $t VALUES (6, 'f', 'x'), (7, 'g', 'y')"))
    rewrite(t, s"DELETE FROM $t WHERE id = 6", Set("x"), Map("[6,f,x]" -> -1),
      maxJobs = Int.MaxValue, noBroadcast = false)
    rewrite(t, s"UPDATE $t SET kind = 'G' WHERE id = 7", Set("y"),
      Map("[7,g,y]" -> -1, "[7,G,y]" -> 1), maxJobs = Int.MaxValue, noBroadcast = false)
  }

  test("a renamed column: the predicate and the assignment use the logical name") {
    val t = create("renamed")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN kind TO category")
    rewrite(t, s"DELETE FROM $t WHERE category = 'c'", Set("y"), Map("[c,3,y]" -> -1))
    rewrite(t, s"UPDATE $t SET category = 'B' WHERE category = 'b'", Set("x"),
      Map("[b,2,x]" -> -1, "[B,2,x]" -> 1))
  }

  /** The partition values the state at `c` holds, and the number of
    * commits up to `c`. */
  private def partitionsAt(name: String, c: CommitId): (Set[String], Int) =
    (log.versionAt(tableName(name), c) match {
      case PartitionedTableVersion(pvs) => pvs.keySet.map(_.columnValues.map(_.value).mkString)
      case other                        => fail(s"not partitioned: $other")
    }, log.updates(tableName(name)).dropWhile(_.id != c).size)

  test("a DELETE that empties its partition removes it in the same commit") {
    val t = create("emptied")
    val (parts, n) = partitionsAt(t, head(t))
    val c = rewrite(t, s"DELETE FROM $t WHERE kind = 'e'", Set("z"), Map("[5,e,z]" -> -1))
    partitionsAt(t, c) shouldBe ((parts - "z", n + 1))
  }

  test("a DELETE or UPDATE that matches nothing does not commit") {
    val t = create("nomatch")
    val prev = head(t)
    spark.sql(s"DELETE FROM $t WHERE id = 99")
    spark.sql(s"UPDATE $t SET kind = 'z' WHERE id = 99")
    head(t) shouldBe prev
  }

  test("a partition-migrating UPDATE reads and rewrites only the source and destination partitions") {
    val t = create("migrating")
    rewrite(t, s"UPDATE $t SET p = 'z' WHERE id = 1", Set("x", "z"),
      Map("[1,a,x]" -> -1, "[1,a,z]" -> 1), maxJobs = Int.MaxValue)
    // the source's last row leaves: the emptied partition goes in the same commit
    val (parts, n) = partitionsAt(t, head(t))
    val c = rewrite(t, s"UPDATE $t SET p = 'w' WHERE p = 'x'", Set("x", "w"),
      Map("[2,b,x]" -> -1, "[2,b,w]" -> 1), maxJobs = Int.MaxValue)
    partitionsAt(t, c) shouldBe ((parts - "x" + "w", n + 1))
  }
}
