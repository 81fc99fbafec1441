package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark._
import graft.spark.VersionContext.DatasetVersionOps

/**
 * SCALE SOAK (run on demand): scenarios, each a round over `mult`× the
 * corpus returning what it measured, with guards comparing an N× round
 * to a 1× round run after an untimed 1× warm-up in the same session. At
 * local sizes a Spark job's fixed cost dominates an operator, so claims
 * are ratios between rounds, never absolute times. Structural properties
 * a spec pins (reclaim-set equality, rename-only adoption, byte-exact
 * clones, single-pass plans, zero-rewrite renames) are not re-checked here.
 *
 * Usage: `sbt "runMain graft.Soak [scenario …]"` (none: every scenario).
 * `SPARK_GRAFT_SF_DIR` is the 1× corpus (default /root/testdata/sf0.1),
 * `SPARK_GRAFT_SOAK_SCALE` is N (default 8), `SPARK_GRAFT_CPUS` sizes
 * `local[n]` (default: the host's processors). Stdout is the record: one
 * JSON line per round and per guard, then a summary naming every failed
 * guard; the exit code is 1 on any failure.
 */
object Soak {

  type Measures = Map[String, Double]

  /** `bounds` yields (value, limit) pairs from the 1× round, the N× round
    * and N; the guard holds when every value ≤ its limit. */
  final case class Guard(
      name: String, rule: String, bounds: (Measures, Measures, Int) => Seq[(Double, Double)]) {
    def check(base: Measures, scaled: Measures, scale: Int): Check = {
      val pairs = bounds(base, scaled, scale)
      Check(name, pairs.forall { case (v, limit) => v <= limit },
        rule + ": " + pairs.map { case (v, limit) => f"$v%.4g <= $limit%.4g" }.mkString(", "))
    }
  }

  final case class Scenario(
      name: String, round: (SparkSession, String, Int) => Measures, guards: Seq[Guard])
  final case class Check(guard: String, ok: Boolean, detail: String)
  final case class Result(scenario: String, base: Measures, scaled: Measures, checks: Seq[Check])

  /** N× ≤ 2 × 1× + slack: a cost that must not track the corpus. */
  def flat(name: String, key: String, slack: Double = 0.0): Guard =
    Guard(name, s"Nx $key <= 2 * 1x + $slack", (b, n, _) => Seq(n(key) -> (2 * b(key) + slack)))

  /** N× ≤ 2 × N × 1×: linear growth, 2× headroom for shuffles and steal. */
  def linear(name: String, key: String): Guard =
    Guard(name, s"Nx $key <= 2 * N * 1x", (b, n, scale) => Seq(n(key) -> 2.0 * scale * b(key)))

  /** Cost per emitted unit at N× ≤ 2 × at 1×: for answers that grow
    * faster than the input by definition. */
  def perUnit(name: String, cost: String, unit: String): Guard = {
    def per(m: Measures) = m(cost) / math.max(m(unit), 1.0)
    Guard(name, s"Nx $cost/$unit <= 2 * 1x", (b, n, _) => Seq(per(n) -> 2 * per(b)))
  }

  /** One measurement against another of the same round (N×, or both). */
  def peer(name: String, key: String, other: String, factor: Double = 1.0,
      slack: Double = 0.0, bothRounds: Boolean = false): Guard =
    Guard(name, s"${if (bothRounds) "1x and Nx" else "Nx"} $key <= $factor * $other + $slack",
      (b, n, _) => (if (bothRounds) Seq(b, n) else Seq(n))
        .map(m => m(key) -> (factor * m(other) + slack)))

  /** A rate (bandwidth, throughput) at N× ≥ 1/4 of 1×. */
  def holds(name: String, key: String): Guard =
    Guard(name, s"1x $key / 4 <= Nx", (b, n, _) => Seq(b(key) / 4 -> n(key)))

  /** A count bound in both rounds. */
  def within(name: String, key: String, lo: Double, hi: Double): Guard =
    Guard(name, s"$lo <= $key <= $hi at 1x and Nx",
      (b, n, _) => Seq(b, n).flatMap(m => Seq(lo -> m(key), m(key) -> hi)))

  private val user = UserId("soak")

  private def seconds[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  // every table and corpus lives under one dir, emptied after each scenario
  private lazy val work: Path = Files.createTempDirectory("graft_soak")
  private val ids = new java.util.concurrent.atomic.AtomicInteger
  /** A new dir under `work`, named like the table (and catalog) it may hold. */
  private def freshDir(): Path =
    Files.createDirectory(work.resolve(s"soak${ids.incrementAndGet()}"))

  private def lineitem(spark: SparkSession, sfDir: String, cols: String*): DataFrame = {
    val li = graft.queries.Tables.load(spark, sfDir, "lineitem")
    if (cols.isEmpty) li else li.select(cols.map(col): _*)
  }

  /** `n` replicas with disjoint order keys: same partition geometry, n× rows. */
  private def replicated(n: Int, df: DataFrame): DataFrame =
    if (n == 1) df else (0 until n).map(k => df.withColumn(
      "l_orderkey", col("l_orderkey") + lit(k * 100000000L))).reduce(_ unionByName _)

  private final case class Fixture(
      log: InMemoryTableVersions, ctx: VersionContext, t: TableDefinition) {
    def catalog: String = t.name.name
    def sqlName: String = s"$catalog.db.$catalog"
    def insert(df: DataFrame): Unit = df.versionedInsertInto(ctx, t, user, UpdateMessage("load"))
  }

  /** A fresh versioned table partitioned by `partition`, exposed to SQL
    * through a catalog of its own. */
  private def fixture(spark: SparkSession, partition: String): Fixture = {
    val dir = freshDir()
    val name = dir.getFileName.toString
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val t = TableDefinition(TableName("db", name), dir.toUri,
      PartitionSchema(List(PartitionColumn(partition))), FileFormat.Parquet)
    ctx.init(t, user, UpdateMessage("init"))
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind(name, log)
    GraftTableCatalog.register(name, t)
    Fixture(log, ctx, t)
  }

  private def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }


  private val DisjointQueries = Seq(
    "e2_jaccard_neardup", "e2b_minhash_lsh", "e29_persisted_ivf", "e30_ivf_ingest",
    "e34_bm25", "e35_bigram_lm", "e36_hybrid_rrf")
  private val DenseQueries = Seq("e2_jaccard_neardup", "e2b_minhash_lsh")

  private def timeQueries(spark: SparkSession, dir: String, names: Seq[String]): Measures =
    names.flatMap { name =>
      graft.queries.Pipeline.clearPairStageCache()
      val (sec, rows) = seconds(SparkEntry.queries(name)(spark, dir).count())
      Seq(s"${name}_sec" -> sec, s"${name}_rows" -> rows.toDouble)
    }.toMap

  /** `mult` replicas of documents and embeddings (1: `sfDir` itself); replica
    * k's text is `text(k, original)`, its vectors perturbed by k × 1e-4. */
  private def corpus(spark: SparkSession, sfDir: String, mult: Int)(
      text: (Int, Column) => Column): String =
    if (mult == 1) sfDir
    else {
      val dir = freshDir().toString
      def replicate(table: String, id: String)(replica: (DataFrame, Int) => DataFrame): Unit = {
        val df = spark.read.parquet(s"$sfDir/$table.parquet")
        val span = df.agg(max(id)).head().getLong(0) + 1
        (0 until mult).map(k =>
          if (k == 0) df else replica(df.withColumn(id, col(id) + lit(k * span)), k))
          .reduce(_ unionByName _).write.parquet(s"$dir/$table.parquet")
      }
      replicate("documents", "doc_id") { (df, k) =>
        df.withColumn("text", text(k, col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
      replicate("embeddings", "vec_id") { (df, k) =>
        df.withColumn("embedding",
          transform(col("embedding"), x => (x + lit(k * 1e-4f)).cast("float")))
      }
      dir
    }

  /** Replica k's alphabet is rotated by k: disjoint shingles, the same
    * duplicate geometry, so input, index and answer all grow N×. SemDeDup's
    * IVF cells grow N× denser (pairs ~N²): its claim is a flat cost per pair. */
  private def dedupDisjoint(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val (lower, digits) = ("abcdefghijklmnopqrstuvwxyz", "0123456789")
    def rot(s: String, k: Int) = s.drop(k % s.length) + s.take(k % s.length)
    val dir = corpus(spark, sfDir, mult) { (k, text) =>
      translate(text, lower + lower.toUpperCase + digits,
        rot(lower, k) + rot(lower, k).toUpperCase + rot(digits, k))
    }
    val timed = timeQueries(spark, dir, DisjointQueries :+ "e31_semdedup")
    val scoredPairs = graft.queries.Pipeline.ivfQuantizer(spark, dir)._2
      .groupBy("cell").count()
      .agg(sum(expr("(count * (count - 1)) DIV 2"))).head().getLong(0)
    timed + ("e31_semdedup_pairs" -> scoredPairs.toDouble)
  }

  /** Replica text near-dups its original: clusters grow N× denser and the
    * answer ~N², so the claim is a flat cost per emitted pair (a failed
    * MaxShingleDf cap inflates it with candidates that miss). */
  private def dedupDense(spark: SparkSession, sfDir: String, mult: Int): Measures = timeQueries(
    spark, corpus(spark, sfDir, mult)((k, text) => concat(text, lit(s" replica$k"))), DenseQueries)


  /** Incremental MV refresh after a constant delete is bounded by the
    * changed set and the touched groups (a 1000-ary bucket: ~0.1%). */
  private def mvRefresh(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val src = fixture(spark, "l_returnflag")
    src.insert(replicated(mult, lineitem(spark, sfDir, "l_orderkey", "l_quantity",
      "l_returnflag", "l_linestatus")).withColumn("l_bucket", col("l_orderkey") % 1000))
    val mv = TableDefinition(TableName("db", s"${src.catalog}_mv"), freshDir().toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW ${src.catalog}.db.${mv.name.name} LOCATION '${mv.location}'
         |AS SELECT l_bucket, count(*) AS n, sum(l_quantity) AS s, min(l_quantity) AS mn
         |FROM ${src.sqlName} GROUP BY l_bucket""".stripMargin)
    DeletionVectors.delete(src.ctx, src.log, src.t,
      col("l_bucket") === 0 && col("l_orderkey") < 100000000L, user, UpdateMessage("dv"))
    Map("incremental_sec" -> seconds(MaterializedView.refresh(spark, src.catalog, mv, user))._1)
  }

  /** A partition-scheme rewrite is one linear shuffle; the metadata-only
    * boundary reads no data and moves no dir, so it is flat. */
  private def evolve(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val rows = replicated(mult,
      lineitem(spark, sfDir, "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"))
    val next = PartitionSchema(List(PartitionColumn("l_linestatus")))
    val Seq(a, b) = Seq.fill(2)(fixture(spark, "l_returnflag"))
    Seq(a, b).foreach(_.insert(rows))
    Map("rewrite_sec" -> seconds(PartitionEvolution.evolve(spark, a.ctx, a.t, next, user))._1,
      "boundary_sec" ->
        seconds(PartitionEvolution.evolveMetadataOnly(spark, b.ctx, b.t, next, user))._1)
  }

  /** DELETE, UPDATE, INSERT scattered over every partition of full-width
    * rows, on a merge-on-read and a copy-on-write table: only copy-on-write
    * re-lands partitions. UPDATE's full scan is shared, so parity + 25%. */
  private def morDml(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val rows = replicated(mult, lineitem(spark, sfDir))
    val stmts = Seq(
      "delete" -> "DELETE FROM {t} WHERE l_orderkey % 1009 = 0",
      "update" -> "UPDATE {t} SET l_quantity = l_quantity + 1 WHERE l_orderkey % 1009 = 1",
      "insert" -> ("INSERT INTO {t} SELECT l_orderkey + 900000000 AS l_orderkey, l_partkey, " +
        "l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, " +
        "l_linestatus, l_shipdate, l_returnflag FROM {t} WHERE l_orderkey % 1009 = 2"))
    Seq("mor" -> true, "cow" -> false).flatMap { case (side, mor) =>
      val f = fixture(spark, "l_returnflag")
      f.insert(rows)
      withConf(spark, "spark.graft.dml.mergeOnRead" -> mor.toString)(stmts.map {
        case (verb, stmt) =>
          s"${verb}_${side}_sec" -> seconds(spark.sql(stmt.replace("{t}", f.sqlName)))._1
      })
    }.toMap
  }

  /** 6 × mult merge-on-read appends (48 at N = 8), auto-squashed after
    * each: a read must stay near the floor of the fully squashed table. */
  private def overlayDebt(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val li = lineitem(spark, sfDir, "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
    val f = fixture(spark, "l_returnflag")
    f.insert(li.where(col("l_orderkey") % 7 === 0))
    val batch = li.where(col("l_orderkey") % 997 === 0).cache()
    (1 to 6 * mult).foreach { k =>
      RowOverlay.append(batch.withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000000L)),
        f.ctx, f.t, user, UpdateMessage(s"append $k"))
      RowOverlay.autoSquash(spark, f.ctx, f.t, user, maxDirs = 8)
    }
    batch.unpersist()
    def readSec() = seconds(DeletionVectors.read(spark, f.log, f.t)
      .groupBy("l_returnflag").agg(sum("l_quantity")).collect())._1
    val autoSec = readSec()
    RowOverlay.squash(spark, f.ctx, f.t, user, UpdateMessage("squash"))
    Map("read_auto_sec" -> autoSec, "read_squashed_sec" -> readSec())
  }

  /** Zone-map auto refresh after a constant write into one partition
    * rescans only that partition's new contents. */
  private def autoStatsRefresh(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val li = lineitem(spark, sfDir, "l_orderkey", "l_quantity", "l_returnflag")
    val f = fixture(spark, "l_returnflag")
    f.insert(replicated(mult, li))
    FileStats.writeZoneMaps(spark, f.log, f.t, Seq("l_orderkey"))
    val batch = li.where(col("l_returnflag") === "N" && col("l_orderkey") % 977 === 0)
    Map("sec" -> withConf(spark, FileStats.AutoUpdateKey -> "true")(seconds(f.insert(batch)))._1)
  }


  private def rollup(df: DataFrame): DataFrame =
    df.groupBy("l_orderkey", "l_returnflag").agg(sum("l_quantity").as("qty"))

  /** The streamed merge-on-read upsert applies a constant keyed batch as
    * DV pairs and overlay rows: O(changes) plus fixed passes. */
  private def upsertApply(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val li = lineitem(spark, sfDir)
    val f = fixture(spark, "l_returnflag")
    f.insert(rollup(replicated(mult, li)))
    val batch =
      rollup(li).where(col("l_orderkey") % 977 === 0).withColumn("qty", col("qty") + 10000)
    Map("mor_sec" -> seconds(graft.streaming.Streams.applyUpsertBatch(
      batch, 0L, f.ctx, f.log, f.t, Seq("l_orderkey", "l_returnflag"), user, f.catalog))._1)
  }

  /** REPLACE WHERE's partition tier resolves the matched partition (1 of
    * 50) from the fold's values and never reads old data. */
  private def replaceWhere(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val li = lineitem(spark, sfDir)
    val f = fixture(spark, "p")
    f.insert(replicated(mult, li).withColumn("p", (col("l_orderkey") % 50).cast("string"))
      .select("l_orderkey", "l_quantity", "l_returnflag", "p"))
    li.where(col("l_orderkey") % 50 === 7 && col("l_quantity") <= 5).withColumn("p", lit("7"))
      .select("l_orderkey", "l_quantity", "l_returnflag", "p")
      .createOrReplaceTempView(s"${f.catalog}_src")
    Map("partition_tier_sec" -> seconds(spark.sql(
      s"INSERT INTO ${f.sqlName} REPLACE WHERE p = '7' SELECT * FROM ${f.catalog}_src"))._1)
  }

  /** The corpus grows by years under a generated `ship_month` partition:
    * a one-month base-column query stays in that month's partition. */
  private def generatedPruning(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val li = lineitem(spark, sfDir, "l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
    val f = fixture(spark, "ship_month")
    GeneratedColumns.add(spark, f.ctx, f.t,
      GeneratedColumns.GeneratedColumn("ship_month", "date_format(l_shipdate, 'yyyy-MM')"), user)
    f.insert((0 until mult).map(k =>
      li.withColumn("l_shipdate", col("l_shipdate") + expr(s"INTERVAL ${k * 12} MONTHS")))
      .reduce(_ unionByName _))
    Map("one_month_sec" -> seconds(spark.sql(
      s"""SELECT count(*), sum(l_quantity) FROM ${f.sqlName}
         |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
         |  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'""".stripMargin).collect())._1)
  }

  /** Replacing a constant region of a partition that grows N× writes
    * constant BYTES under merge-on-read; copy-on-write re-lands it all. */
  private def morReplaceWhere(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val rows = rollup(replicated(mult, lineitem(spark, sfDir)))
    val region = "l_returnflag = 'N' AND l_orderkey % 977 = 0 AND l_orderkey < 100000000"
    Seq("mor" -> true, "cow" -> false).map { case (side, mor) =>
      val f = fixture(spark, "l_returnflag")
      f.insert(rows)
      spark.sql(s"SELECT l_orderkey, l_returnflag, qty * 2 AS qty FROM ${f.sqlName} WHERE $region")
        .createOrReplaceTempView(s"${f.catalog}_src")
      val fs = FileSystem.get(f.t.location, spark.sessionState.newHadoopConf())
      def bytes = fs.getContentSummary(new HPath(f.t.location)).getLength
      val before = bytes
      withConf(spark, "spark.graft.dml.mergeOnRead" -> mor.toString)(spark.sql(
        s"INSERT INTO ${f.sqlName} REPLACE WHERE $region SELECT * FROM ${f.catalog}_src"))
      s"${side}_bytes" -> (bytes - before).toDouble
    }.toMap
  }


  /** The distributed VACUUM walk (a job per layout level), 48 × mult partitions. */
  private def vacuumListing(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val f = fixture(spark, "p")
    val keyed = lineitem(spark, sfDir, "l_orderkey", "l_quantity")
      .withColumn("p", (col("l_orderkey") % (48 * mult)).cast("string"))
    f.insert(keyed)
    f.insert(keyed.where(col("l_quantity") > 25))
    Map("dist_sec" -> withConf(spark, "spark.graft.vacuum.distributedMinDirs" -> "0")(
      seconds(Vacuum.vacuum(f.t, f.log, spark.sessionState.newHadoopConf(),
        keepLast = 1, graceMs = 0, dryRun = true, spark = Some(spark))))._1)
  }

  /** Distributed CONVERT TO GRAFT of a plain tree of 48 × mult partitions. */
  private def convertAdoption(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val loc = freshDir()
    lineitem(spark, sfDir, "l_orderkey", "l_quantity")
      .withColumn("p", (col("l_orderkey") % (48 * mult)).cast("string"))
      .write.mode("overwrite").partitionBy("p").parquet(loc.toString)
    val ctx = VersionContext(VersionedMetastore(new InMemoryTableVersions, new InMemoryMetastore))
    val t = TableDefinition(TableName("db", loc.getFileName.toString), loc.toUri,
      PartitionSchema(List(PartitionColumn("p"))), FileFormat.Parquet)
    Map("sec" -> withConf(spark, "spark.graft.convert.distributedMinDirs" -> "0",
      "spark.graft.convert.distributedMinFiles" -> "0")(
      seconds(ConvertToGraft.convert(spark, ctx, t, user)))._1)
  }

  private def narrow(spark: SparkSession, sfDir: String, mult: Int): DataFrame = replicated(mult,
    lineitem(spark, sfDir, "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"))

  /** A sidecar-free deep clone is a per-file byte copy: never slower than
    * the resolved-rows tier (forced by one DV pair), its bandwidth held. */
  private def deepClone(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val f = fixture(spark, "p")
    f.insert(narrow(spark, sfDir, mult).withColumn("p", (col("l_orderkey") % 16).cast("string")))
    val fs = FileSystem.get(f.t.location, spark.sessionState.newHadoopConf())
    val bytes = VersionedReader(spark, f.log).read(f.t).inputFiles
      .map(p => fs.getFileStatus(new HPath(new java.net.URI(p))).getLen).sum
    def cloneSec(suffix: String) = seconds(DeepClone.clone(spark, f.ctx, f.t,
      TableName("db", f.catalog + suffix), freshDir().toUri, user))._1
    val rawSec = cloneSec("_raw")
    DeletionVectors.delete(f.ctx, f.log, f.t, col("l_orderkey") === 1L, user, UpdateMessage("dv"))
    Map("raw_sec" -> rawSec, "resolved_sec" -> cloneSec("_resolved"),
      "bytes" -> bytes.toDouble, "mb_per_sec" -> bytes / 1e6 / rawSec)
  }

  /** A partition-migrating UPDATE prunes to the touched of 6 × mult partitions. */
  private def migrationUpdate(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val f = fixture(spark, "p")
    f.insert(narrow(spark, sfDir, mult)
      .withColumn("p", concat(lit("p"), col("l_orderkey") % (6 * mult))))
    Map("sec" -> seconds(
      spark.sql(s"UPDATE ${f.sqlName} SET p = 'moved' WHERE p = 'p0'").collect())._1)
  }

  /** One skewed partition ("hot", ~90% of the bytes, in 16 fragments) and
    * three small ones, bin-packed or z-ordered to a sixth of the hot bytes:
    * the hot one splits to ~6 files, none grossly above target. */
  private def skewedRewrite(zorder: Boolean)(spark: SparkSession, sfDir: String, mult: Int)
      : Measures = {
    val f = fixture(spark, "p")
    f.insert(narrow(spark, sfDir, mult)
      .withColumn("p", when(col("l_orderkey") % 10 < 9, lit("hot"))
        .otherwise(concat(lit("cold"), col("l_orderkey") % 3)))
      .repartition(16))
    val fs = FileSystem.get(f.t.location, spark.sessionState.newHadoopConf())
    def filesOf(value: String): Seq[FileStatus] = {
      val pvs =
        f.log.currentVersion(f.t.name).asInstanceOf[PartitionedTableVersion].partitionVersions
      val p = pvs.keys.find(_.columnValues.head.value == value).get
      fs.listStatus(new HPath(SparkPaths.dirFor(f.t.location, p, pvs(p)))).toSeq
        .filter(st => st.isFile && !"_.".contains(st.getPath.getName.head))
    }
    val hotBytes = filesOf("hot").map(_.getLen).sum
    val target = math.max(1L, hotBytes / 6)
    val (sec, _) = seconds(
      if (zorder) ZOrder.zorderCompact(spark, f.ctx, f.t, user, UpdateMessage("zorder"),
        zorderCols = Seq("l_partkey", "l_quantity"), targetBytes = Some(target))
      else Compaction.compactToSize(spark, f.ctx, f.t, user, UpdateMessage("size"), target))
    val hot = filesOf("hot")
    Map("sec" -> sec, "target" -> target.toDouble, "mb_per_sec" -> hotBytes / 1e6 / sec,
      "hot_files" -> hot.size.toDouble, "max_file_bytes" -> hot.map(_.getLen).max.toDouble,
      "cold_max_files" -> Seq("cold0", "cold1", "cold2").map(filesOf(_).size).max.toDouble)
  }

  /** `RENAME COLUMN tags.element.x TO score` is metadata-only. */
  private def arrayRename(spark: SparkSession, sfDir: String, mult: Int): Measures = {
    val f = fixture(spark, "p")
    f.insert(narrow(spark, sfDir, mult).select(col("l_orderkey"),
      array(struct(col("l_quantity").cast("long").as("x"),
        col("l_partkey").cast("string").as("note"))).as("tags"),
      (col("l_orderkey") % 8).cast("string").as("p")))
    Map("sec" -> seconds(spark.sql(
      s"ALTER TABLE ${f.sqlName} RENAME COLUMN tags.element.x TO score").collect())._1)
  }

  val scenarios: Seq[Scenario] = Seq(
    Scenario("dedup_disjoint", dedupDisjoint,
      DisjointQueries.map(q => linear(s"${q}_linear", s"${q}_sec")) :+
        perUnit("e31_semdedup_per_pair_flat", "e31_semdedup_sec", "e31_semdedup_pairs")),
    Scenario("dedup_dense", dedupDense,
      DenseQueries.map(q => perUnit(s"${q}_dense_per_row_flat", s"${q}_sec", s"${q}_rows"))),
    Scenario("mv_refresh", mvRefresh, Seq(flat("mv_incremental_flat", "incremental_sec"))),
    Scenario("evolve", evolve, Seq(linear("evolve_linear", "rewrite_sec"),
      flat("evolve_metadata_boundary_flat", "boundary_sec"))),
    Scenario("mor_dml", morDml, Seq(
      peer("mor_delete_beats_cow_at_scale", "delete_mor_sec", "delete_cow_sec"),
      peer("mor_update_parity_at_scale", "update_mor_sec", "update_cow_sec", factor = 1.25),
      peer("mor_insert_beats_cow_at_scale", "insert_mor_sec", "insert_cow_sec"))),
    Scenario("overlay_debt", overlayDebt, Seq(Guard("auto_squash_bounds_read_debt",
      "Nx read_auto_sec <= max(1.5 * read_squashed_sec, read_squashed_sec + 0.5)",
      (_, n, _) => Seq(n("read_auto_sec") ->
        math.max(1.5 * n("read_squashed_sec"), n("read_squashed_sec") + 0.5))))),
    Scenario("auto_stats_refresh", autoStatsRefresh,
      Seq(flat("auto_stats_refresh_flat", "sec", slack = 1.0))),
    Scenario("upsert_apply", upsertApply, Seq(flat("upsert_mor_flat", "mor_sec"))),
    Scenario("replace_where", replaceWhere,
      Seq(flat("replace_where_partition_tier_flat", "partition_tier_sec"))),
    Scenario("generated_pruning", generatedPruning,
      Seq(flat("generated_pruning_flat", "one_month_sec"))),
    Scenario("mor_replace_where", morReplaceWhere, Seq(
      // 128 KB slack: the overlay's writer count, and so its footers, track the corpus
      flat("mor_replace_where_bytes_flat", "mor_bytes", slack = 128 * 1024),
      peer("mor_replace_where_bytes_asymmetry", "mor_bytes", "cow_bytes", factor = 0.1))),
    Scenario("vacuum_listing", vacuumListing,
      Seq(flat("vacuum_distributed_flat", "dist_sec", slack = 2.0))),
    Scenario("convert_adoption", convertAdoption,
      Seq(flat("convert_distributed_flat", "sec", slack = 2.0))),
    Scenario("deep_clone", deepClone, Seq(
      peer("deep_clone_raw_not_slower", "raw_sec", "resolved_sec", slack = 1.0, bothRounds = true),
      holds("deep_clone_raw_bandwidth_holds", "mb_per_sec"))),
    Scenario("migration_update", migrationUpdate, Seq(flat("migration_flat", "sec", slack = 2.0))),
    Scenario("sized_optimize", skewedRewrite(zorder = false), Seq(
      within("sized_optimize_splits_hot", "hot_files", 3, 12),
      peer("sized_optimize_bounded_files", "max_file_bytes", "target", factor = 2.5,
        bothRounds = true),
      holds("sized_optimize_throughput_holds", "mb_per_sec"))),
    Scenario("sized_zorder", skewedRewrite(zorder = true), Seq(
      within("sized_zorder_splits_hot", "hot_files", 3, 14),
      within("sized_zorder_cold_bounded", "cold_max_files", 0, 2),
      peer("sized_zorder_bounded_files", "max_file_bytes", "target", factor = 2.5,
        bothRounds = true),
      holds("sized_zorder_throughput_holds", "mb_per_sec"))),
    Scenario("array_rename", arrayRename, Seq(flat("array_rename_flat", "sec", slack = 2.0))))

  /** Runs the named scenarios (all when `names` is empty), printing each
    * one's round and guard lines as it finishes. */
  def run(spark: SparkSession, sfDir: String, scale: Int, names: Seq[String],
      warmUp: Boolean = true): Seq[Result] = {
    val unknown = names.filterNot(n => scenarios.exists(_.name == n))
    require(unknown.isEmpty,
      s"unknown scenario ${unknown.mkString(", ")}; known: ${scenarios.map(_.name).mkString(" ")}")
    scenarios.filter(s => names.isEmpty || names.contains(s.name)).map { s =>
      try {
        // a cold 1× (codegen, class loading) would understate every ratio
        if (warmUp) s.round(spark, sfDir, 1)
        val base = s.round(spark, sfDir, 1)
        val scaled = s.round(spark, sfDir, scale)
        Seq(1 -> base, scale -> scaled).foreach { case (mult, m) =>
          println(m.toSeq.sorted.map { case (k, v) => s""""$k":${num(v)}""" }
            .mkString(s"""{"scenario":"${s.name}","mult":$mult,""", ",", "}"))
        }
        val checks = s.guards.map(_.check(base, scaled, scale))
        checks.foreach(c => println(
          s"""{"scenario":"${s.name}","guard":"${c.guard}","ok":${c.ok},"detail":"${c.detail}"}"""))
        Result(s.name, base, scaled, checks)
      } finally org.apache.commons.io.FileUtils.cleanDirectory(work.toFile)
    }
  }

  /** The closing record: scale, counts and every failed guard. */
  def summary(results: Seq[Result], scale: Int): String = {
    val failed = for (r <- results; c <- r.checks if !c.ok) yield s""""${r.scenario}.${c.guard}""""
    s"""{"summary":"soak","scale":$scale,"scenarios":${results.size},""" +
      s""""guards":${results.map(_.checks.size).sum},"failed":[${failed.mkString(",")}]}"""
  }

  private def num(v: Double): String =
    if (!v.isFinite) "null" else if (v == math.rint(v)) v.toLong.toString else f"$v%.4f"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_SOAK_SCALE", "8").toInt
    val cpus =
      sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = try run(spark, sfDir, scale, args.toSeq) finally spark.stop()
    println(summary(results, scale))
    if (results.exists(_.checks.exists(!_.ok))) sys.exit(1)
  }
}
