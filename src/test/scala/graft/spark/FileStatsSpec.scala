package graft.spark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

class FileStatsSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session
  import spark.implicits._

  private val user = UserId("zonemap-test")

  private def rangeClusteredTable(): (TableDefinition, TableVersions) = {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "zonemap_snap"),
      Files.createTempDirectory("graft_spec_zonemap").toUri,
      PartitionSchema.snapshot,
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    // 0..7999 range-clustered into 8 files of ~1000 consecutive keys each
    spark.range(8000).toDF("k")
      .withColumn("v", col("k") * 2)
      .repartitionByRange(8, col("k"))
      .sortWithinPartitions("k")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: range-clustered"))
    (table, log)
  }

  test("zoneMaps emits one row per file with correct min/max/count") {
    val (table, log) = rangeClusteredTable()
    val full = VersionedReader(spark, log).read(table)
    val stats = FileStats.zoneMaps(full, Seq("k")).collect()
    stats.length shouldBe full.inputFiles.length
    stats.map(_.getAs[Long]("n_rows")).sum shouldBe 8000L
    // zones are disjoint per file: global min/max recovered exactly
    stats.map(_.getAs[Long]("min_k")).min shouldBe 0L
    stats.map(_.getAs[Long]("max_k")).max shouldBe 7999L
  }

  test("string bounds truncate to a 32-char prefix window; pruning over truncated bounds keeps every matching file") {
    import org.apache.spark.sql.functions.{col, concat, lit, lpad}
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "zonemap_str"),
      Files.createTempDirectory("graft_spec_zmstr").toUri,
      PartitionSchema.snapshot, FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    // long text values (~90 chars) whose FIRST 32 chars carry the order:
    // doc_<key zero-padded><60 chars of tail> — range-clustered by key
    spark.range(4000).toDF("k")
      .withColumn("txt", concat(
        lit("doc_"), lpad(col("k").cast("string"), 8, "0"), lit("x" * 80)))
      .repartitionByRange(4, col("k"))
      .sortWithinPartitions("k")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    val full = VersionedReader(spark, log).read(table)
    val stats = FileStats.zoneMaps(full, Seq("txt")).collect()
    // every stored bound fits the prefix window — long text never bloats
    // the sidecar
    stats.foreach { r =>
      Option(r.getAs[String]("min_txt")).foreach(
        _.length should be <= FileStats.StringBoundPrefixLen)
      Option(r.getAs[String]("max_txt")).foreach(
        _.length should be <= FileStats.StringBoundPrefixLen)
    }
    // bounds stay CONSERVATIVE: min' <= actual min, max' >= actual max
    val actual = full.selectExpr("min(txt)", "max(txt)").head()
    stats.map(_.getAs[String]("min_txt")).min should be <= actual.getString(0)
    stats.flatMap(r => Option(r.getAs[String]("max_txt"))).max should be >=
      actual.getString(1).substring(0, FileStats.StringBoundPrefixLen)

    // pruned range reads over the truncated bounds keep every matching row
    FileStats.writeZoneMaps(spark, log, table, Seq("txt"))
    val probeLo = "doc_00001000"
    val probeHi = "doc_00001999" + "z"
    val got = FileStats.readSkipping(spark, log, table, "txt", probeLo, probeHi)
    got.where(col("txt") >= probeLo && col("txt") <= probeHi).count() shouldBe
      full.where(col("txt") >= probeLo && col("txt") <= probeHi).count()
    // and the skip actually pruned: fewer files scanned than the table has
    got.inputFiles.length should be < full.inputFiles.length

    // short strings keep exact bounds (identity below the window)
    val shortStats = FileStats.zoneMaps(
      spark.range(10).toDF("k").withColumn("txt", col("k").cast("string")),
      Seq("txt")).collect()
    shortStats.map(_.getAs[String]("min_txt")).min shouldBe "0"
  }

  test("equality skipping prunes by distinct-value sketch; over-cap sketches are NULL and kept") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "dvskip"),
      Files.createTempDirectory("graft_spec_dvskip").toUri,
      PartitionSchema.snapshot,
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    // grp = g0..g7 hash-spread over 4 files: each file holds ~2 groups but
    // its [min, max] STRING zone spans nearly the whole domain — the
    // adversarial layout for range zones, the home turf of value sketches
    spark.range(4000).toDF("k")
      .withColumn("grp", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("g"), col("k") % 8))
      .repartition(4, col("grp"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: hash layout"))
    FileStats.writeZoneMaps(spark, log, table, Seq("grp"), distinctCols = Seq("grp"))
    val totalFiles = VersionedReader(spark, log).read(table).inputFiles.length

    val pruned = FileStats.readSkippingEquals(spark, log, table, "grp", Seq("g3"))
    pruned.inputFiles.length shouldBe 1 // hash layout: one file owns g3
    totalFiles should be > 1
    pruned.where(col("grp") === "g3").count() shouldBe 500L
    // IN-list probes union the kept files
    FileStats.readSkippingEquals(spark, log, table, "grp", Seq("g3", "no_such"))
      .where(col("grp") === "g3").count() shouldBe 500L

    // a sketch over the cap stores NULL → the file is KEPT, never dropped:
    // k has 1000 distinct values per file, far over DefaultDistinctCap
    FileStats.writeZoneMaps(spark, log, table, Seq("grp"), distinctCols = Seq("k"))
    val overCap = FileStats.readSkippingEquals(spark, log, table, "k", Seq(17L))
    overCap.inputFiles.length shouldBe totalFiles // no sketch → no pruning
    overCap.where(col("k") === 17L).count() shouldBe 1L

    // asking for a column with no sketch fails loudly, not silently full-scans
    val boom = intercept[IllegalArgumentException](
      FileStats.readSkippingEquals(spark, log, table, "grp", Seq("g3")).count())
    boom.getMessage should include("no distinct-value sketch")

    // BLOOM tier: k's dv overflows the cap (NULL) but its 4096-bit bloom
    // still prunes point probes — the one true file plus false positives
    FileStats.writeZoneMaps(
      spark, log, table, Seq("grp"), distinctCols = Seq("k"), bloomCols = Seq("k"))
    val bloomed = FileStats.readSkippingEquals(spark, log, table, "k", Seq(17L))
    bloomed.inputFiles.length should be < totalFiles // FP rate ≪ 1 at 1000/file... pruned
    bloomed.where(col("k") === 17L).count() shouldBe 1L // never a false negative
    // absent values may keep FP files but must return zero rows
    FileStats.readSkippingEquals(spark, log, table, "k", Seq(999999L))
      .where(col("k") === 999999L).count() shouldBe 0L

    // bloom-only sidecar over a STRING column (no dv list at all): the
    // tiering goes straight to the bloom, which prunes and never drops
    // a true match — pinning type-faithful probe hashing for strings
    FileStats.writeZoneMaps(spark, log, table, Seq("grp"), bloomCols = Seq("grp"))
    val strBloom = FileStats.readSkippingEquals(spark, log, table, "grp", Seq("g3"))
    strBloom.inputFiles.length should be <= totalFiles
    strBloom.where(col("grp") === "g3").count() shouldBe 500L

    // a probe literal of a DIFFERENT numeric width than the column must
    // not false-negative: write/read both hash the string rendering
    FileStats.writeZoneMaps(spark, log, table, Seq("grp"), bloomCols = Seq("k"))
    FileStats.readSkippingEquals(spark, log, table, "k", Seq(17: Int))
      .where(col("k") === 17L).count() shouldBe 1L
  }

  test("bloom probes coerce through the column's type — int probe vs double column") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("graft_spec", "dbl_bloom"),
      Files.createTempDirectory("graft_spec_dblbloom").toUri,
      PartitionSchema.snapshot,
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    // d is DOUBLE: its write-side bloom hashes '17.0', not '17' — an
    // int probe 17 must still find the file (the round-10 bug was a raw
    // lit(17).cast("string") rendering '17' and silently false-negating)
    spark.range(4000).toDF("k")
      .withColumn("d", col("k").cast("double"))
      .repartition(4, col("k"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))

    // tier 1: sidecar carries min_d (double) → type recovered from min
    FileStats.writeZoneMaps(spark, log, table, Seq("d"), bloomCols = Seq("d"))
    FileStats.readSkippingEquals(spark, log, table, "d", Seq(17: Int))
      .where(col("d") === 17.0).count() shouldBe 1L

    // tier 3: BLOOM-ONLY sidecar (no min_d, no dv_d) → type resolved from
    // the table's own schema; the int probe must still hash '17.0'
    FileStats.writeZoneMaps(spark, log, table, Seq("k"), bloomCols = Seq("d"))
    FileStats.readSkippingEquals(spark, log, table, "d", Seq(17: Int))
      .where(col("d") === 17.0).count() shouldBe 1L
    // and pruning is genuinely active for the double column (not keep-all)
    val totalFiles = VersionedReader(spark, log).read(table).inputFiles.length
    FileStats.readSkippingEquals(spark, log, table, "d", Seq(17: Int))
      .inputFiles.length should be < totalFiles
  }

  test("a bloom-only probe on a log with no schema record types the literal from the footers") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("graft_spec", "dbl_bloom_legacy"),
      Files.createTempDirectory("graft_spec_dblbloom_legacy").toUri,
      PartitionSchema.snapshot,
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    spark.range(4000).toDF("k")
      .withColumn("d", col("k").cast("double"))
      .repartition(4, col("k"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    // the same files under a log an earlier version wrote: no record
    val legacy = new InMemoryTableVersions
    legacy.init(table.name, isSnapshot = true, user, UpdateMessage("init"), java.time.Instant.now())
    val v = log.currentVersion(table.name) match {
      case SnapshotTableVersion(v) => v
      case other                   => fail(s"not a snapshot: $other")
    }
    legacy.commit(table.name, TableVersions.TableUpdate(
      user, UpdateMessage("adopt"), java.time.Instant.now(),
      List(TableVersions.TableOperation.AddTableVersion(v))))
    DataSchema.at(spark, legacy, table, None) shouldBe None
    // bloom-only sidecar: the int probe must still hash '17.0'
    FileStats.writeZoneMaps(spark, legacy, table, Seq("k"), bloomCols = Seq("d"))
    FileStats.readSkippingEquals(spark, legacy, table, "d", Seq(17: Int))
      .where(col("d") === 17.0).count() shouldBe 1L
  }

  test("readSkipping drops files outside the predicate range, keeps every matching row") {
    import org.apache.spark.sql.functions.col
    val (table, log) = rangeClusteredTable()
    FileStats.writeZoneMaps(spark, log, table, Seq("k"))
    val totalFiles = VersionedReader(spark, log).read(table).inputFiles.length

    val pruned = FileStats.readSkipping(spark, log, table, "k", 1500L, 2500L)
    // ~2 of 8 range-disjoint files can hold keys in [1500, 2500]
    pruned.inputFiles.length should be < totalFiles
    pruned.inputFiles.length should be <= 3

    val rows = pruned.where(col("k").between(1500L, 2500L))
    rows.count() shouldBe 1001L
    rows.agg(org.apache.spark.sql.functions.sum("v")).as[Long].head() shouldBe
      (1500L to 2500L).map(_ * 2).sum
  }

  test("pruned skipping reads apply deletion vectors — no resurrection") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "zonemap_dv"),
      Files.createTempDirectory("graft_spec_zonemap_dv").toUri,
      PartitionSchema.snapshot,
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    spark.range(8000).toDF("k")
      .withColumn("v", col("k") * 2)
      .repartitionByRange(8, col("k"))
      .sortWithinPartitions("k")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1: range-clustered"))
    FileStats.writeZoneMaps(spark, log, table, Seq("k"))
    val preDelete = log.currentCommit(table.name)

    DeletionVectors.delete(
      ctx, log, table, col("k").between(1000, 1099), user, UpdateMessage("dv")) shouldBe 100L

    // the PRUNED scan must not resurrect the hidden rows
    val pruned = FileStats.readSkipping(spark, log, table, "k", 500, 1500)
      .where(col("k").between(500, 1500))
    pruned.count() shouldBe 901L // 1001 in range minus the 100 hidden
    pruned.where(col("k").between(1000, 1099)).count() shouldBe 0L
    // file pruning is still in force (a handful of files, not all 8)
    pruned.inputFiles.length should be < 8
    // the pre-delete state still serves every row through the same sidecar
    FileStats.readSkipping(spark, log, table, "k", 500, 1500, asOf = Some(preDelete))
      .where(col("k").between(500, 1500)).count() shouldBe 1001L
  }

  test("an empty surviving file set degrades to zero rows with the table schema") {
    val (table, log) = rangeClusteredTable()
    FileStats.writeZoneMaps(spark, log, table, Seq("k"))
    val none = FileStats.readSkipping(spark, log, table, "k", 100000L, 200000L)
    none.count() shouldBe 0L
    none.columns.toSeq shouldBe Seq("k", "v")
  }

  test("partitioned tables prune files per partition and keep the partition column") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "zonemap_part"),
      Files.createTempDirectory("graft_spec_zonemap_part").toUri,
      PartitionSchema(List(PartitionColumn("grp"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    // 2 partitions × 4 range-clustered files each
    spark.range(8000).toDF("k")
      .withColumn("grp", (col("k") % 2).cast("string"))
      .repartitionByRange(8, col("grp"), col("k"))
      .sortWithinPartitions("grp", "k")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    FileStats.writeZoneMaps(spark, log, table, Seq("k"))
    val total = VersionedReader(spark, log).read(table).inputFiles.length

    val pruned = FileStats.readSkipping(spark, log, table, "k", 1000L, 2000L)
    pruned.inputFiles.length should be < total
    pruned.columns should contain("grp") // partition column recovered
    val rows = pruned.where(col("k").between(1000L, 2000L))
    rows.count() shouldBe 1001L
    rows.where(col("grp") === "1").count() shouldBe 500L
  }

  test("a partition predicate bounds the sidecar scan and the driver-side kept-file list") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "zonemap_pf"),
      Files.createTempDirectory("graft_spec_zonemap_pf").toUri,
      PartitionSchema(List(PartitionColumn("grp"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    spark.range(8000).toDF("k")
      .withColumn("grp", (col("k") % 2).cast("string"))
      .repartitionByRange(8, col("grp"), col("k"))
      .sortWithinPartitions("grp", "k")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    FileStats.writeZoneMaps(spark, log, table, Seq("k"))

    val all = FileStats.readSkipping(spark, log, table, "k", 0L, 7999L)
    val one = FileStats.readSkipping(
      spark, log, table, "k", 0L, 7999L, partitionFilter = Some(col("grp") === "1"))
    // the kept-file list shrinks with the partition predicate — at scale
    // the driver never holds the whole table's file list
    one.inputFiles.length should be < all.inputFiles.length
    every(one.inputFiles.toSeq) should include("grp=1")
    one.count() shouldBe 4000L // exactly grp=1's rows reach the scan

    // a PRE-carry-column sidecar (written before partition columns rode
    // the grouping key) can't evaluate the partition predicate: the read
    // must fall back to zone-only pruning — a correct superset — instead
    // of an unresolved-column analysis error
    val sidecar = spark.read.parquet(statsDirOf(log, table))
    val legacyCols = sidecar.columns.filterNot(_ == "grp").map(col)
    sidecar.select(legacyCols.toIndexedSeq: _*)
      .write.mode("overwrite").parquet(statsDirOf(log, table) + "_legacy")
    // swap in the legacy sidecar
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    val dir = new org.apache.hadoop.fs.Path(statsDirOf(log, table))
    fs.delete(dir, true)
    fs.rename(new org.apache.hadoop.fs.Path(statsDirOf(log, table) + "_legacy"), dir)
    val fallback = FileStats.readSkipping(
      spark, log, table, "k", 0L, 7999L, partitionFilter = Some(col("grp") === "1"))
    fallback.count() shouldBe 8000L // superset: filter ignored, zones keep all
  }

  /** The sidecar dir of the table's CURRENT state (mirrors FileStats.statsDir,
    * which is private — partitioned tables key by current commit). */
  private def statsDirOf(log: TableVersions, table: TableDefinition): String =
    graft.core.Partition.normalizedDir(table.location).toString +
      "_stats/commit-" + log.currentCommit(table.name).id

  test("post-write auto refresh keeps the sidecar fresh with no manual call; off by default") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "zonemap_auto"),
      Files.createTempDirectory("graft_spec_zonemap_auto").toUri,
      PartitionSchema(List(PartitionColumn("grp"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    spark.range(8000).toDF("k")
      .withColumn("grp", (col("k") % 2).cast("string"))
      .repartitionByRange(8, col("grp"), col("k"))
      .sortWithinPartitions("grp", "k")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    FileStats.writeZoneMaps(spark, log, table, Seq("k"), distinctCols = Seq("grp"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      table.location, spark.sessionState.newHadoopConf())

    // conf OFF (the default): a write does NOT refresh — the new state
    // has no sidecar (readers fall back to unpruned scans)
    Seq.tabulate(1000)(i => (8000L + i, "1")).toDF("k", "grp")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v2: grp=1 replaced"))
    fs.exists(new org.apache.hadoop.fs.Path(statsDirOf(log, table))) shouldBe false

    // conf ON: the next write refreshes automatically, healing the gap —
    // the anchor walks back to the newest commit that kept a sidecar (v1)
    // and recomputes every partition moved since, with the SAME stat
    // columns the table already tracks (inferred from the sidecar schema)
    spark.conf.set(FileStats.AutoUpdateKey, "true")
    try {
      Seq.tabulate(1000)(i => (9000L + i, "1")).toDF("k", "grp")
        .versionedInsertInto(ctx, table, user, UpdateMessage("v3: grp=1 replaced again"))
      fs.exists(new org.apache.hadoop.fs.Path(statsDirOf(log, table))) shouldBe true
      // pruned read with NO manual stats call: correct and actually pruned
      val pruned = FileStats.readSkipping(spark, log, table, "k", 9000L, 9999L)
      pruned.where(col("k") >= 9000L).count() shouldBe 1000L
      val total = VersionedReader(spark, log).read(table).inputFiles.length
      pruned.inputFiles.length should be < total
      // the inferred column sets carried the distinct sketch too
      spark.read.parquet(statsDirOf(log, table)).columns should contain("dv_grp")
    } finally spark.conf.unset(FileStats.AutoUpdateKey)
  }

  test("partitioned sidecars key by the current POINTER: a rollback serves the old state's stats") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "zonemap_rollback"),
      Files.createTempDirectory("graft_spec_zonemap_rb").toUri,
      PartitionSchema(List(PartitionColumn("grp"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    def write(lo: Long, msg: String): Unit = {
      spark.range(lo, lo + 1000).toDF("k")
        .withColumn("grp", (col("k") % 2).cast("string"))
        .repartitionByRange(4, col("grp"), col("k"))
        .versionedInsertInto(ctx, table, user, UpdateMessage(msg))
      FileStats.writeZoneMaps(spark, log, table, Seq("k"))
    }
    write(0L, "v1")
    val v1Commit = log.updates(table.name).head.id
    write(10000L, "v2") // disjoint key range replaces both partitions

    log.setCurrentVersion(table.name, v1Commit)
    // keying by the log HEAD would load v2's sidecar here and prune against
    // the wrong version's files (zero rows, silently)
    val rows = FileStats.readSkipping(spark, log, table, "k", 0L, 999L)
      .where(col("k").between(0L, 999L))
    rows.count() shouldBe 1000L
  }

  test("vacuum reclaims the stats sidecar of an expired version, keeps the retained one") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "zonemap_vacuum"),
      Files.createTempDirectory("graft_spec_zonemap_vac").toUri,
      PartitionSchema.snapshot,
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    def write(lo: Int): Unit = {
      spark.range(lo, lo + 100).toDF("k").withColumn("v", col("k"))
        .versionedInsertInto(ctx, table, user, UpdateMessage(s"v from $lo"))
      FileStats.writeZoneMaps(spark, log, table, Seq("k"))
    }
    write(0); write(100); write(200)
    val statsRoot = java.nio.file.Paths.get(table.location).resolve("_stats")
    Files.list(statsRoot).count() shouldBe 3
    val report = Vacuum.vacuum(
      table, log, spark.sessionState.newHadoopConf(), keepLast = 2, graceMs = 0L)
    report.failed shouldBe empty
    report.deleted.count(_.startsWith("_stats/")) shouldBe 1
    Files.list(statsRoot).count() shouldBe 2
    // the current version's sidecar still loads and prunes
    FileStats.loadZoneMaps(spark, log, table).count() should be > 0L
  }

  test("the _stats sidecar is invisible to normal versioned reads") {
    val (table, log) = rangeClusteredTable()
    FileStats.writeZoneMaps(spark, log, table, Seq("k"))
    VersionedReader(spark, log).read(table).count() shouldBe 8000L
  }

  test("zone-map skipping survives ALTER TABLE RENAME COLUMN (round 15)") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "zonerename"),
      Files.createTempDirectory("graft_spec_zonerename").toUri,
      PartitionSchema.snapshot,
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    spark.range(8000).toDF("k")
      .withColumn("grp", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("g"), col("k") % 8))
      .repartitionByRange(8, col("k"))
      .sortWithinPartitions("k")
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    FileStats.writeZoneMaps(spark, log, table, Seq("k", "grp"), distinctCols = Seq("grp"))
    val totalFiles = VersionedReader(spark, log).read(table).inputFiles.length

    ColumnMapping.rename(spark, ctx, table, "k", "key", user)
    ColumnMapping.rename(spark, ctx, table, "grp", "bucket", user)

    // RANGE probe under the NEW name: still prunes, still logical output
    // (a snapshot sidecar keys by VERSION label, so the metadata-only
    // rename commits do not strand it)
    val pruned = FileStats.readSkipping(spark, log, table, "key", 1000L, 1999L)
    pruned.inputFiles.length should be < totalFiles
    pruned.columns should contain("key")
    pruned.columns should not contain "k"
    pruned.where(col("key").between(1000, 1999)).count() shouldBe 1000L

    // EQUALITY probe under the NEW name
    val eq = FileStats.readSkippingEquals(spark, log, table, "bucket", Seq("g3"))
    eq.columns should contain("bucket")
    eq.where(col("bucket") === "g3").count() shouldBe 1000L

    // and REWRITING the sidecar under the new logical names keys the same
    // physical columns: the probe keeps resolving
    FileStats.writeZoneMaps(spark, log, table, Seq("key", "bucket"), distinctCols = Seq("bucket"))
    val fresh = FileStats.readSkipping(spark, log, table, "key", 0L, 10L)
    fresh.inputFiles.length should be < totalFiles
    fresh.where(col("key") <= 10).count() shouldBe 11L
  }

  test("overlay-aware skipping: pruned reads drop non-matching overlay leaves") {
    import org.apache.spark.sql.functions.col
    val log = new InMemoryTableVersions
    val ctx = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
    val table = TableDefinition(
      TableName("test", "zonemap_overlay"),
      Files.createTempDirectory("graft_spec_zm_ov").toUri,
      PartitionSchema(List(PartitionColumn("date"))),
      FileFormat.Parquet)
    ctx.init(table, user, UpdateMessage("init"))
    spark.range(2000).toDF("k")
      .withColumn("date", org.apache.spark.sql.functions
        .when(col("k") % 2 === 0, "2024-01-01").otherwise("2024-01-02"))
      .versionedInsertInto(ctx, table, user, UpdateMessage("v1"))
    FileStats.writeZoneMaps(spark, log, table, Seq("k"))

    // two overlay batches in the SAME partition, disjoint k ranges — each
    // append stages its own per-dir stats because the table has zone maps
    val c1 = RowOverlay.append(
      (10000L to 10099L).map(i => (i, "2024-01-01")).toDF("k", "date"),
      ctx, table, user, UpdateMessage("ov1"))
    val c2 = RowOverlay.append(
      (20000L to 20099L).map(i => (i, "2024-01-01")).toDF("k", "date"),
      ctx, table, user, UpdateMessage("ov2"))

    val probe = FileStats.readSkipping(spark, log, table, "k", 10000L, 10049L)
    probe.where(col("k").between(10000L, 10049L)).count() shouldBe 50L
    val files = probe.inputFiles
    files.exists(_.contains(s"commit-${c1.id}")) shouldBe true   // matching leaf read
    files.exists(_.contains(s"commit-${c2.id}")) shouldBe false  // non-matching leaf skipped
    // base-table zones prune too: no base file with max < 10000 is read
    // (the probe range lies entirely above the base data)
    files.count(f => !f.contains("/_appends/")) shouldBe 0

    // a dir WITHOUT stats (written before zone maps existed) stays an
    // unpruned superset — correctness never gates on the optimization
    val fs = org.apache.hadoop.fs.FileSystem.get(
      table.location, spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      RowOverlay.appendsDir(table, c2), "_stats"), true)
    val probe2 = FileStats.readSkipping(spark, log, table, "k", 10000L, 10049L)
    probe2.where(col("k").between(10000L, 10049L)).count() shouldBe 50L
    probe2.inputFiles.exists(_.contains(s"commit-${c2.id}")) shouldBe true

    // the squash's fold carries fresh stats for the squashed dir
    RowOverlay.squash(spark, ctx, table, user, UpdateMessage("squash")) shouldBe true
    val probe3 = FileStats.readSkipping(spark, log, table, "k", 10000L, 10049L)
    probe3.where(col("k").between(10000L, 10049L)).count() shouldBe 50L
  }
}
