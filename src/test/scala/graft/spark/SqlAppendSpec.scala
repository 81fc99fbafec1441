package graft.spark

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{CommitId, ConcurrentWriteException}

/** The copy-on-write SQL `INSERT INTO` writes only its batch and carries
  * each touched partition's current state into the partition's new
  * version dir: byte for byte when the files are exactly the rows and the
  * batch's columns equal the table's data-schema record, else as one write
  * of the resolved rows. Every case serves the appended rows at the head,
  * the previous rows at the previous commit, and a change feed over the
  * append that nets to exactly the batch. */
class SqlAppendSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import TestSpark.jobs

  private val cat = "graftappend"
  private val log = new InMemoryTableVersions
  spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
  GraftTableCatalog.bind(cat, VersionedMetastore(log, new InMemoryMetastore))

  private def create(name: String, columns: String, partitionedBy: String = "p"): String = {
    val loc = Files.createTempDirectory(s"graft_append_$name").toUri
    val parts = if (partitionedBy.isEmpty) "" else s"PARTITIONED BY ($partitionedBy)"
    spark.sql(s"CREATE TABLE $cat.db.$name ($columns) USING parquet $parts LOCATION '$loc'")
    s"$cat.db.$name"
  }

  private def tableName(sqlName: String): TableName = TableName("db", sqlName.split('.').last)
  private def head(sqlName: String): CommitId = log.currentCommit(tableName(sqlName))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** The data files (name -> length) of `partition`'s dir at `at` (a
    * snapshot table: its version dir). */
  private def files(sqlName: String, at: CommitId, partition: Option[String]): Map[String, Long] = {
    val defn = GraftTableCatalog.lookup(cat, tableName(sqlName)).get._2
    val dir = (log.versionAt(defn.name, at), partition) match {
      case (SnapshotTableVersion(v), None) => VersionPaths.pathFor(defn.location, v).toString
      case (PartitionedTableVersion(pvs), Some(value)) =>
        val (p, v) = pvs.find(_._1.columnValues.map(_.value) == List(value)).get
        SparkPaths.dirFor(defn.location, p, v)
      case other => sys.error(s"no dir for $other")
    }
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    FileCopy.dataFiles(fs, path).map(n => n -> fs.getFileStatus(new Path(path, n)).getLen).toMap
  }

  /** `df`'s rows, its columns sorted by name, without `_`-prefixed and
    * `drop` columns. */
  private def visible(df: org.apache.spark.sql.DataFrame, drop: Seq[String] = Nil): Seq[String] =
    rows(df.select(df.columns.filterNot(c => c.startsWith("_") || drop.contains(c))
      .sorted.map(df.col): _*))

  /** The change feed over `from` -> `to`, netted: each row as often as it
    * was inserted more than deleted (a row deleted more is an error). */
  private def netChanges(
      name: String, from: CommitId, to: CommitId, drop: Seq[String] = Nil): Seq[String] = {
    val feed = spark.sql(s"SELECT * FROM table_changes('$name', '${from.id}', '${to.id}')")
    val signed = visible(feed.where("_change_type = 'insert'"), drop).map(_ -> 1) ++
      visible(feed.where("_change_type = 'delete'"), drop).map(_ -> -1)
    signed.groupBy(_._1).toSeq.flatMap { case (r, ns) =>
      val n = ns.map(_._2).sum
      n should be >= 0
      Seq.fill(n)(r)
    }.sorted
  }

  /** Append `batch` (VALUES rows of `columns`, default: the table's
    * columns in order) and check the append. `touched`: the partition
    * value it lands in (None: a snapshot table). `bytes`: whether the
    * touched dir's previous files must reappear byte for byte (else none
    * of them may). Rows compare with their columns sorted by name. */
  private def append(
      name: String, batch: String, touched: Option[String], bytes: Boolean,
      columns: Option[String] = None): Unit = {
    val cols = columns.getOrElse(spark.table(name).columns.mkString(", "))
    val before = visible(spark.table(name))
    val added = visible(spark.sql(s"SELECT * FROM VALUES $batch AS v($cols)"))
    val prev = head(name)
    val prevFiles = files(name, prev, touched)
    spark.sql(s"INSERT INTO $name ($cols) VALUES $batch")
    val now = head(name)
    now should not be prev
    withClue(s"$name at the head: ")(visible(spark.table(name)) shouldBe (before ++ added).sorted)
    withClue(s"$name at the previous commit: ")(
      visible(spark.sql(s"SELECT * FROM $name VERSION AS OF '${prev.id}'")) shouldBe before)
    withClue(s"$name change feed: ")(netChanges(name, prev, now) shouldBe added)
    val nowFiles = files(name, now, touched)
    withClue(s"$name tier: ") {
      if (bytes) prevFiles.toSeq.foreach(f => nowFiles.toSeq should contain(f))
      else nowFiles.keySet.intersect(prevFiles.keySet) shouldBe empty
    }
  }

  test("byte tier: a clean partition's files reappear byte-identical beside the batch's, in two jobs") {
    val t = create("clean", "id BIGINT, kind STRING, p STRING")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'x'), (3, 'c', 'y')")
    spark.sql(s"INSERT INTO $t VALUES (4, 'd', 'x')")
    val prev = head(t)
    val prevFiles = files(t, prev, Some("x"))
    val untouched = files(t, prev, Some("y"))
    jobs(spark.sql(s"INSERT INTO $t VALUES (5, 'e', 'x')")) should be <= 2
    val nowFiles = files(t, head(t), Some("x"))
    // the previous version's files, same names and lengths, plus the batch's
    prevFiles.toSeq.foreach(f => nowFiles.toSeq should contain(f))
    (nowFiles.keySet -- prevFiles.keySet) should have size 1
    files(t, head(t), Some("y")) shouldBe untouched
    rows(spark.table(t)) shouldBe Seq(
      "[1,a,x]", "[2,b,x]", "[3,c,y]", "[4,d,x]", "[5,e,x]")
    append(t, "(6, 'f', 'x'), (7, 'g', 'z')", Some("x"), bytes = true)
  }

  test("byte tier: a clean snapshot table carries its whole version") {
    val t = create("snap", "id BIGINT, kind STRING", partitionedBy = "")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    append(t, "(3, 'c')", None, bytes = true)
  }

  test("row tier: live deletion vectors, overlay rows, a renamed column and a widened type") {
    val dv = create("dv", "id BIGINT, kind STRING, p STRING")
    spark.sql(s"INSERT INTO $dv VALUES (1, 'a', 'x'), (2, 'b', 'x')")
    withMergeOnRead(spark.sql(s"DELETE FROM $dv WHERE id = 1"))
    append(dv, "(3, 'c', 'x')", Some("x"), bytes = false)

    val overlay = create("overlay", "id BIGINT, kind STRING, p STRING")
    spark.sql(s"INSERT INTO $overlay VALUES (1, 'a', 'x')")
    withMergeOnRead(spark.sql(s"INSERT INTO $overlay VALUES (2, 'b', 'x')"))
    append(overlay, "(3, 'c', 'x')", Some("x"), bytes = false)

    val renamed = create("renamed", "id BIGINT, kind STRING, p STRING")
    spark.sql(s"INSERT INTO $renamed VALUES (1, 'a', 'x')")
    spark.sql(s"ALTER TABLE $renamed RENAME COLUMN kind TO category")
    append(renamed, "(2, 'b', 'x')", Some("x"), bytes = false)

    val widened = create("widened", "id BIGINT, qty INT, p STRING")
    spark.sql(s"INSERT INTO $widened VALUES (1, 10, 'x')")
    spark.sql(s"ALTER TABLE $widened ALTER COLUMN qty TYPE BIGINT")
    append(widened, "(2, 5000000000L, 'x')", Some("x"), bytes = false)
  }

  test("row tier: a nested schema state, a mixed partition era and ADD COLUMN before the append") {
    val nested = create("nested", "id BIGINT, meta STRUCT<src: STRING>, p STRING")
    spark.sql(s"INSERT INTO $nested SELECT 1, named_struct('src', 's1'), 'x'")
    spark.sql(s"ALTER TABLE $nested ADD COLUMN meta.lang STRING")
    append(nested, "(2, named_struct('src', 's2', 'lang', 'en'), 'x')", Some("x"), bytes = false)

    val era = create("era", "id BIGINT, kind STRING, p STRING")
    spark.sql(s"INSERT INTO $era VALUES (1, 'k1', 'x'), (2, 'k2', 'x')")
    spark.sql(s"ALTER TABLE $era SET PARTITIONED BY (kind) METADATA ONLY")
    spark.sql(s"INSERT INTO $era (id, kind, p) VALUES (3, 'k1', 'y')")
    append(era, "(4, 'k1', 'z')", Some("k1"), bytes = false, columns = Some("id, kind, p"))

    val added = create("added", "id BIGINT, kind STRING, p STRING")
    spark.sql(s"INSERT INTO $added VALUES (1, 'a', 'x')")
    spark.sql(s"ALTER TABLE $added ADD COLUMN note STRING")
    val withNote = Some("id, kind, p, note")
    append(added, "(2, 'b', 'x', 'n')", Some("x"), bytes = false, columns = withNote)
    // the append recorded the new column: the next one copies bytes again
    append(added, "(3, 'c', 'x', 'm')", Some("x"), bytes = true, columns = withNote)
  }

  test("row tier: a CONVERT-adopted log without a schema record; an identity column") {
    val loc = Files.createTempDirectory("graft_append_adopted").resolve("data")
    spark.sql("SELECT 1L AS id, 'a' AS kind, 'x' AS p")
      .write.partitionBy("p").parquet(loc.toString)
    val adopted = s"$cat.db.adopted"
    spark.sql(s"CONVERT TO GRAFT $adopted FROM '$loc' PARTITIONED BY (p)").collect()
    DataSchema.at(spark, log, GraftTableCatalog.lookup(cat, tableName(adopted)).get._2, None) shouldBe None
    append(adopted, "(2L, 'b', 'x')", Some("x"), bytes = false)

    val ided = create("ided", "v BIGINT, p STRING")
    spark.sql(s"INSERT INTO $ided VALUES (1, 'x')")
    spark.sql(s"ALTER TABLE $ided ADD COLUMN rid BIGINT GENERATED ALWAYS AS IDENTITY")
    def rid(v: Int): Option[Long] = {
      val r = spark.sql(s"SELECT rid FROM $ided WHERE v = $v").head
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    // the declared column makes the batch wider than the record: row tier;
    // that append records it, and the next one copies bytes
    Seq(false, true).zipWithIndex.foreach { case (bytes, i) =>
      val prev = head(ided)
      val prevFiles = files(ided, prev, Some("x"))
      spark.sql(s"INSERT INTO $ided (v, p) VALUES (${2 + i}, 'x')")
      val nowFiles = files(ided, head(ided), Some("x"))
      if (bytes) prevFiles.toSeq.foreach(f => nowFiles.toSeq should contain(f))
      else nowFiles.keySet.intersect(prevFiles.keySet) shouldBe empty
      rows(spark.table(ided).select("v", "p")) shouldBe (1 to 2 + i).map(v => s"[$v,x]")
      rows(spark.sql(s"SELECT v, p FROM $ided VERSION AS OF '${prev.id}'")) shouldBe
        (1 to 1 + i).map(v => s"[$v,x]")
      netChanges(ided, prev, head(ided), drop = Seq("rid")) shouldBe Seq(s"[x,${2 + i}]")
    }
    // the carried row keeps its id; the batch gets a fresh one
    val carried = rid(2)
    carried should not be empty
    rid(3) should not be empty
    rid(3) should not be carried
    spark.sql(s"INSERT INTO $ided (v, p) VALUES (4, 'x')")
    rid(2) shouldBe carried
  }

  test("a SQL INSERT INTO that loses its commit race on a touched partition refuses; a disjoint one composes") {
    val hooked = new HookedTableVersions(new InMemoryTableVersions)
    val race = "graftappendrace"
    spark.conf.set(s"spark.sql.catalog.$race", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind(race, VersionedMetastore(hooked, new InMemoryMetastore))
    val loc = Files.createTempDirectory("graft_append_race").toUri
    val t = s"$race.db.raced"
    spark.sql(s"CREATE TABLE $t (id BIGINT, kind STRING, p STRING) USING parquet " +
      s"PARTITIONED BY (p) LOCATION '$loc'")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    hooked.beforeAppend = _ => { spark.sql(s"INSERT INTO $t VALUES (2, 'A', 'x')"); () }
    val e = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (3, 'B', 'x')"))
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ConcurrentWriteException]) shouldBe true
    rows(spark.table(t)) shouldBe Seq("[1,a,x]", "[2,A,x]")
    hooked.beforeAppend = _ => { spark.sql(s"INSERT INTO $t VALUES (4, 'C', 'y')"); () }
    spark.sql(s"INSERT INTO $t VALUES (5, 'D', 'x')")
    rows(spark.table(t)) shouldBe Seq("[1,a,x]", "[2,A,x]", "[4,C,y]", "[5,D,x]")
  }

  private def withMergeOnRead(body: => Any): Unit = {
    spark.conf.set("spark.graft.dml.mergeOnRead", "true")
    try { body; () } finally spark.conf.unset("spark.graft.dml.mergeOnRead")
  }
}
