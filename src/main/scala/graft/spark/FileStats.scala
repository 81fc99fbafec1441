package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/**
 * File-level zone maps (per-file min/max/count statistics) and the pruned
 * scan that consumes them — Delta/Iceberg-style DATA SKIPPING for versioned
 * tables. The reference delegates all read planning to the catalog
 * (`examples/.../TableLoader.scala:37-38`); this adds the file-granularity
 * pruning a lakehouse table format layers on top.
 *
 * Why it matters at 100 TB: partition pruning bounds a scan to the matching
 * `k=v` dirs, but one partition can still hold thousands of files. When the
 * data is clustered on a column (range-layout inserts, [[ZOrder]] rewrites),
 * per-file min/max zones let the planner drop most files from the scan
 * BEFORE any task launches — the file list handed to the reader is already
 * pruned, so no executor ever opens a skipped file's footer.
 *
 * Design:
 *  - stats collection is ONE distributed pass over the freshly written
 *    version (map-side-combined agg keyed by file path), producing
 *    O(#files) rows of metadata — collected nowhere, persisted as a parquet
 *    sidecar under `<table>/_stats/<versionLabel>` (underscore-prefixed:
 *    invisible to normal scans, immutable per version like the data dirs);
 *  - a pruned read loads the sidecar (O(#files) metadata, the only thing
 *    that ever reaches the driver — same bound as partition discovery),
 *    keeps the files whose `[min, max]` zone intersects the predicate
 *    range, and hands Spark the surviving file list;
 *  - skipping is a SUPERSET guarantee: callers still apply the row-level
 *    predicate; zones only bound which files can hold matching rows.
 */
object FileStats {

  /** Distinct-value sketches wider than this store NULL ("unknown — keep
    * the file"), bounding sidecar size: the ORC-dictionary trick — exact
    * lists only where they're small enough to be useful. */
  val DefaultDistinctCap: Int = 64

  /** Bloom filter geometry: 4096 bits (64 longs per file per column), 4
    * xxhash64 probes — ~1% false-positive rate up to ~430 distinct values
    * per file, degrading gracefully (never losing correctness: a saturated
    * filter keeps everything). The Parquet-bloom analogue for the regime
    * the exact lists can't serve. */
  val BloomBits: Int = 4096
  val BloomWords: Int = BloomBits / 64
  val BloomHashes: Int = 4

  /** STRING zone-map bounds store at most this many characters (the
    * Delta 32-char posture): min truncates (a prefix stays a lower
    * bound), max prefix-increments (strictly above everything sharing
    * the prefix) — sidecar rows stay metadata-sized even when a caller
    * requests stats on a long-text column. */
  val StringBoundPrefixLen: Int = 32

  /** Per-file zone maps for `cols` over any DataFrame backed by a file
    * scan: `file, [carryCols…,] n_rows, min_<c>, max_<c>…` — one
    * distributed agg pass, result cardinality O(#files). `carryCols` ride
    * the grouping key (each file holds exactly one value of them — e.g.
    * partition columns), so they become queryable sidecar columns.
    *
    * `distinctCols` adds per-file EXACT distinct-value lists (`dv_<c>`,
    * sorted, NULL above `distinctCap`) — the pruning complement to
    * min/max zones: a range zone on a hash-clustered or unclustered
    * column spans everything, but an equality/IN predicate can still drop
    * every file whose value list misses the probe values. */
  /** `bloomCols` adds a per-file BLOOM FILTER (`bloom_<c>: array<long>`,
    * [[BloomWords]] words) — the high-cardinality complement to the exact
    * lists: where `dv_<c>` overflows its cap and stores NULL, the bloom
    * still answers "definitely absent" for equality/IN probes at a fixed
    * 64-long metadata cost per file. Bit positions are
    * `pmod(xxhash64(seed_i, value), 4096)` — the read side recomputes the
    * same positions for its probe literals. Collection is ONE native
    * imperative aggregate per column ([[graft.plans.BloomAggregate]],
    * bit-compatible with the probe side): the previous 64-aggregate
    * `bit_or(aggregate(...))` formulation evaluated 256 lambda iterations
    * per row and compiled a codegen unit big enough that its Janino
    * cache miss showed up as a bimodal +2 s on bloom-writing bench
    * entries. Values hash through their STRING rendering, not the native
    * value: a probe literal whose type differs from the column's (int vs
    * long) would otherwise hash differently and FALSE-NEGATIVE — both
    * sides cast through Spark's own CAST, so renderings agree. */
  def zoneMaps(
      df: DataFrame,
      cols: Seq[String],
      carryCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil,
      distinctCap: Int = DefaultDistinctCap,
      bloomCols: Seq[String] = Nil): DataFrame = {
    require(cols.nonEmpty, "zoneMaps needs at least one stats column")
    // STRING bounds store a bounded PREFIX, never the full value (a stats
    // column holding document text / URLs would otherwise bloat the
    // sidecar): min truncates to its 32-char prefix (a prefix is ≤ the
    // full string — still a lower bound), max keeps values ≤ 32 chars
    // verbatim and otherwise increments the prefix's last character (the
    // Delta/Iceberg posture — strictly ≥ every value sharing the prefix);
    // a last char outside the safely-incrementable ASCII range stores
    // NULL, which every pruning predicate already treats as "keep the
    // file" — truncation only ever widens bounds, so pruning stays
    // conservative-correct.
    def boundedMin(c: String) = min(col(c)) match {
      case m if df.schema.find(_.name.equalsIgnoreCase(c))
          .exists(_.dataType == org.apache.spark.sql.types.StringType) =>
        expr(s"substring(min(`$c`), 1, $StringBoundPrefixLen)")
      case m => m
    }
    def boundedMax(c: String) = max(col(c)) match {
      case m if df.schema.find(_.name.equalsIgnoreCase(c))
          .exists(_.dataType == org.apache.spark.sql.types.StringType) =>
        expr(
          s"""CASE WHEN length(max(`$c`)) <= $StringBoundPrefixLen THEN max(`$c`)
             |WHEN ascii(substring(max(`$c`), $StringBoundPrefixLen, 1)) BETWEEN 1 AND 126
             |  THEN concat(substring(max(`$c`), 1, ${StringBoundPrefixLen - 1}),
             |              chr(ascii(substring(max(`$c`), $StringBoundPrefixLen, 1)) + 1))
             |ELSE NULL END""".stripMargin)
      case m => m
    }
    val aggs = (count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(boundedMin(c).as(s"min_$c"), boundedMax(c).as(s"max_$c")))) ++
      distinctCols.map(c =>
        when(size(collect_set(col(c))) <= distinctCap,
          sort_array(collect_set(col(c))))
          .otherwise(lit(null)).as(s"dv_$c")) ++
      bloomCols.map(c =>
        org.apache.spark.sql.GraftSqlShim.column(
          graft.plans.BloomAggregate(
            org.apache.spark.sql.GraftSqlShim.expression(col(c).cast("string")),
            words = BloomWords, hashes = BloomHashes)
            .toAggregateExpression()).as(s"bloom_$c"))
    df.groupBy(input_file_name().as("file") +: carryCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Sidecar location of a state's stats: snapshot tables key by the
    * version label; partitioned tables carry one version PER partition,
    * so the state is identified by its COMMIT (`_stats/commit-<id>` — one
    * sidecar per committed table state). With `at = None` the state is the
    * one the CURRENT POINTER names — the pointer, not the log head: after
    * a rollback the head commit's sidecar describes a state the reader no
    * longer serves. With `at = Some(commit)` the sidecar is the one
    * written when THAT state was current — sidecars follow their state's
    * lifecycle, so pruned reads compose with time travel (and with vacuum:
    * a reclaimed state's sidecar is gone along with its data dirs). */
  private def statsDir(
      log: TableVersions,
      table: TableDefinition,
      at: Option[TableVersions.CommitId] = None): String = {
    val base = Partition.normalizedDir(table.location).toString + "_stats/"
    val state = at.map(log.versionAt(table.name, _))
      .getOrElse(log.currentVersion(table.name))
    state match {
      case SnapshotTableVersion(v) if v != Version.Unversioned => base + v.label
      case SnapshotTableVersion(_) =>
        sys.error(s"table ${table.name.fullyQualifiedName} has no written version to collect stats for")
      case PartitionedTableVersion(_) =>
        base + "commit-" + at.getOrElse(log.currentCommit(table.name)).id
    }
  }

  /** READ-SIDE sidecar resolution: the sidecar covering the state at `at`.
    * Op-less commits (merge-on-read appends/deletes, sidecar squashes,
    * metadata markers) move no version pointer, so the sidecar written at
    * an EARLIER commit still describes exactly the same version-dir files
    * — walk the lineage back to the nearest commit whose sidecar exists
    * and accept it iff the partition fold is unchanged since (metadata
    * equality, no data read). A fold that moved refuses loudly: serving a
    * stale sidecar's kept-file list would scan superseded version dirs.
    * Without this, every merge-on-read commit would strand pruned reads
    * until someone re-ran writeZoneMaps. */
  private def resolveStatsDir(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[TableVersions.CommitId]): String = {
    val state = at.map(log.versionAt(table.name, _))
      .getOrElse(log.currentVersion(table.name))
    state match {
      case SnapshotTableVersion(_) => statsDir(log, table, at)
      case PartitionedTableVersion(foldAt) =>
        val base = Partition.normalizedDir(table.location).toString + "_stats/"
        val fs = new org.apache.hadoop.fs.Path(base)
          .getFileSystem(spark.sessionState.newHadoopConf())
        // tables that never wrote stats pay ONE probe, not a lineage walk
        // (every merge-on-read append probes through here)
        if (!fs.exists(new org.apache.hadoop.fs.Path(base)))
          return statsDir(log, table, at)
        val pointer = at.getOrElse(log.currentCommit(table.name))
        val lineage = log.updates(table.name).dropWhile(_.id != pointer)
        lineage.iterator
          .map(m => (m.id, base + "commit-" + m.id.id))
          .find { case (_, d) => fs.exists(new org.apache.hadoop.fs.Path(d)) }
          .map { case (anchor, d) =>
            val foldThen = log.versionAt(table.name, anchor) match {
              case PartitionedTableVersion(pvs) => pvs
              case other => sys.error(s"unexpected state $other under a stats sidecar")
            }
            if (foldThen != foldAt)
              sys.error(
                s"stats sidecar for ${table.name.fullyQualifiedName} (commit ${anchor.id}) " +
                  "predates a partition rewrite — run writeZoneMaps (or updateZoneMaps) " +
                  "for the current state")
            d
          }
          .getOrElse(statsDir(log, table, at)) // no sidecar anywhere: the
          // original path, so the read fails with the same path-not-found
          // signal writeZoneMaps-less tables always produced
    }
  }

  /** Collect zone maps for the CURRENT state of the table and persist them
    * as its sidecar. Runs as part of the write pipeline (stats for a state
    * are computed once, right after the commit lands — never per query).
    * For partitioned tables the stats rows carry the partition columns
    * (string-typed, as the versioned reader surfaces them), so a pruned
    * read can filter the SIDECAR scan — and hence the driver-side kept-file
    * list — by partition predicate before zone filtering. */
  def writeZoneMaps(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      cols: Seq[String],
      distinctCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Unit = {
    // callers speak LOGICAL names; the sidecar (like the raw scan it
    // indexes) is keyed by the stable PHYSICAL names, so renames never
    // strand it — probes translate back through the same mapping
    def phys(c: String) = ColumnMapping.physicalName(spark, log, table, c)
    // RAW dirs scan: stats key by FILE and cover exactly the version-dir
    // files — overlay files carry their own per-dir `_stats` sidecar
    // (writeOverlayStats); indexing them here would double-count
    // stats sidecars are scanned by every pruned read — land them as few
    // AQE-sized files (hash by `file`), not one per shuffle partition
    VersionContext.distributeForWrite(
      zoneMaps(
        versionDirs(spark, log, table, None), cols.map(phys),
        carryCols = table.partitionSchema.columns.map(_.name),
        distinctCols = distinctCols.map(phys),
        bloomCols = bloomCols.map(phys)),
      Seq("file"))
      .write.mode("overwrite").parquet(statsDir(log, table))
  }

  /** The sidecar zone maps of the table's current state. */
  def loadZoneMaps(spark: SparkSession, log: TableVersions, table: TableDefinition): DataFrame =
    spark.read.parquet(statsDir(log, table))

  /** The main sidecar's schema for the current state, if one exists —
    * the overlay-side stats derive their column config from it. */
  private def mainStatsSchema(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition): Option[org.apache.spark.sql.types.StructType] =
    (try Some(resolveStatsDir(spark, log, table, None))
     catch { case _: RuntimeException => None })
      .flatMap { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(p)) Some(spark.read.parquet(d).schema) else None
      }

  /** OVERLAY-SIDE zone maps ([[RowOverlay]]): per-file stats for a
    * just-staged overlay dir, written to `<dir>/_stats` (underscore-
    * prefixed — invisible to every data scan of the dir) with the SAME
    * column config as the table's current main sidecar, so pruned reads
    * ([[readSkipping]]/[[readSkippingEquals]]) can drop non-matching
    * overlay leaves instead of unioning every overlay row unpruned. The
    * batch was just written, so this is one O(batch) job — and a no-op
    * when the table has no zone maps (nothing would consume the stats).
    * Dirs without a `_stats` sidecar keep the unpruned-union fallback:
    * stats are an optimization, never a correctness gate. The MAIN
    * sidecar still never covers overlay files (it keys the version-dir
    * scan; indexing overlay files there would double-count). */
  private[spark] def writeOverlayStats(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      overlayDir: String): Unit =
    mainStatsSchema(spark, log, table).foreach { schema =>
      val names = schema.map(_.name)
      val statCols = names.collect { case n if n.startsWith("min_") => n.stripPrefix("min_") }
      if (statCols.nonEmpty) {
        val scan = SessionConf.withConf(
          spark, "spark.sql.sources.partitionColumnTypeInference.enabled", "false") {
          val reader = spark.read.format(table.format.name)
          (if (table.isSnapshot) reader else reader.option("basePath", overlayDir))
            .load(overlayDir)
        }
        // a stats column absent from the batch (additive schema evolution)
        // contributes no zones; the pruned read's predicate fallback keeps
        // such dirs unpruned rather than failing
        val present = scan.columns.map(_.toLowerCase).toSet
        def have(cs: Seq[String]) = cs.filter(c => present(c.toLowerCase))
        val cols = have(statCols)
        if (cols.nonEmpty) {
          VersionContext.distributeForWrite(
            zoneMaps(
              scan, cols,
              carryCols =
                if (table.isSnapshot) Nil
                else table.partitionSchema.columns.map(_.name).filter(c => present(c.toLowerCase)),
              distinctCols =
                have(names.collect { case n if n.startsWith("dv_") => n.stripPrefix("dv_") }),
              bloomCols =
                have(names.collect { case n if n.startsWith("bloom_") => n.stripPrefix("bloom_") })),
            Seq("file"))
            .write.mode("overwrite")
            .parquet(overlayDir.stripSuffix("/") + "/_stats")
        }
      }
    }

  /** INCREMENTAL sidecar maintenance for partitioned tables — the write
    * pipeline's answer to "stats for a 100 TB table can't cost O(table)
    * per commit": scan ONLY the partitions whose version pointers moved
    * since `since` (the commit whose sidecar is being carried forward),
    * keep the previous sidecar's rows for every unmoved partition, drop
    * rows of partitions the new state no longer holds, and write the
    * union as the current state's sidecar. The partition diff is
    * metadata (two commit-log folds); the carried rows are O(#files)
    * sidecar metadata; the only data scanned is the moved partitions' —
    * the same bound the versioned write itself already paid.
    *
    * The previous sidecar must exist for `since` and carry the same
    * stats columns (pass identical cols/distinctCols/bloomCols) — a
    * schema mismatch fails loudly rather than writing a sidecar that
    * silently lacks sketches for some files. */
  /** Conf key gating the POST-WRITE sidecar refresh ([[maybeAutoUpdate]]).
    * Off by default: refresh stays the caller's call unless opted in. */
  val AutoUpdateKey = "spark.graft.stats.autoUpdate"

  /** POST-WRITE zone-map maintenance (the [[Compaction.autoCompact]]
    * posture): after a versioned commit lands, refresh the stats sidecar
    * incrementally when (a) `spark.graft.stats.autoUpdate=true` and (b)
    * the PRE-write state already had a sidecar — a stats-enabled table
    * then never serves a stale sidecar, with no caller remembering to
    * refresh. The stat COLUMN SETS come from the previous sidecar's own
    * schema (`min_`/`dv_`/`bloom_` prefixes), so the refresh asks for
    * exactly what the table already tracks. Cost: the conf probe is free;
    * when enabled, one driver-side sidecar existence check per write, and
    * the [[updateZoneMaps]] moved-partitions-only scan when one exists.
    * A refresh failure logs and never fails the already-committed write. */
  /** How many commits back [[maybeAutoUpdate]] probes for a sidecar: a
    * missed refresh (conf off for a while, a failed attempt) still heals
    * on the next write as long as SOME recent state kept one. */
  private val AutoUpdateProbeDepth = 32

  def maybeAutoUpdate(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      since: TableVersions.CommitId): Unit = {
    if (table.isSnapshot) return
    // per-table TBLPROPERTY wins; session conf is the fallback
    if (!TableProperties.effectiveFlag(
        spark, log, table, TableProperties.StatsAutoUpdate)) return
    try {
      val fs = new org.apache.hadoop.fs.Path(
        Partition.normalizedDir(table.location).toString)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // anchor at the NEWEST at-or-before commit that kept a sidecar —
      // updateZoneMaps recomputes every partition moved since the anchor,
      // so a gap (refreshes skipped while the conf was off) still heals
      val anchor = log.updates(table.name) // newest first
        .dropWhile(_.id != since)
        .take(AutoUpdateProbeDepth)
        .map(_.id)
        .find(id => fs.exists(
          new org.apache.hadoop.fs.Path(statsDir(log, table, Some(id)))))
        .getOrElse(return)
      val prevCols = spark.read.parquet(statsDir(log, table, Some(anchor))).columns
      val cols = prevCols.filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq
      if (cols.isEmpty) return
      updateZoneMaps(
        spark, log, table, anchor, cols,
        distinctCols = prevCols.filter(_.startsWith("dv_")).map(_.stripPrefix("dv_")).toSeq,
        bloomCols = prevCols.filter(_.startsWith("bloom_")).map(_.stripPrefix("bloom_")).toSeq)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the data commit already landed; a failed refresh must not unwind
        // it — readers fall back to the previous (pre-write) sidecar rule
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"auto stats refresh failed for ${table.name.fullyQualifiedName}: $e")
    }
  }

  def updateZoneMaps(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      since: TableVersions.CommitId,
      cols: Seq[String],
      distinctCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Unit = {
    require(!table.isSnapshot,
      "incremental stats need partition granularity; snapshot states rewrite wholesale — use writeZoneMaps")
    val partCols = table.partitionSchema.columns.map(_.name)
    def phys(c: String) = ColumnMapping.physicalName(spark, log, table, c)
    val physCols = cols.map(phys)
    val physDistinct = distinctCols.map(phys)
    val physBloom = bloomCols.map(phys)
    val prevDir = statsDir(log, table, Some(since))
    val destDir = statsDir(log, table)
    if (prevDir == destDir) return // `since` IS the current state: its sidecar
    // already exists, and reading + overwriting the same path would destroy
    // it (idempotent-retry safety)
    val prev = spark.read.parquet(prevDir)

    def versionsOf(id: TableVersions.CommitId): Map[Partition, Version] =
      log.versionAt(table.name, id) match {
        case PartitionedTableVersion(pvs) => pvs
        case other => sys.error(s"expected a partitioned state, got $other")
      }
    val before = versionsOf(since)
    val now = versionsOf(log.currentCommit(table.name))
    val moved = now.collect {
      case (p, v) if !before.get(p).contains(v) => p
    }.toList
    val dropped = before.keySet -- now.keySet

    val fresh = zoneMaps(
      versionDirs(spark, log, table, Some(moved.toSet)),
      physCols, carryCols = partCols, distinctCols = physDistinct, bloomCols = physBloom)
    require(prev.columns.sorted.sameElements(fresh.columns.sorted),
      s"previous sidecar schema [${prev.columns.sorted.mkString(",")}] does not match " +
        s"the requested stats [${fresh.columns.sorted.mkString(",")}] — run writeZoneMaps once to migrate")

    // kept rows: previous sidecar minus moved + dropped partitions — an
    // anti-join against a #changed-partitions literal frame (metadata)
    val gone = (moved ++ dropped).map(p =>
      p.columnValues.map(_.value) match {
        case vs => org.apache.spark.sql.Row(vs: _*)
      })
    val kept =
      if (gone.isEmpty) prev
      else {
        val schema = org.apache.spark.sql.types.StructType(partCols.map(c =>
          org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)))
        val goneDf = spark.createDataFrame(
          java.util.Arrays.asList(gone: _*), schema)
        prev.join(goneDf, partCols, "left_anti")
      }
    // the using-join above moves partition columns to the front; restore
    // the canonical zoneMaps column order so every sidecar generation has
    // the same schema layout
    VersionContext.distributeForWrite(
      kept.unionByName(fresh)
        .select(fresh.columns.map(col).toIndexedSeq: _*),
      Seq("file"))
      .write.mode("overwrite").parquet(destDir)
  }

  /** Scan the table's current version reading ONLY the files whose
    * `[min_col, max_col]` zone intersects `[lo, hi]` (both inclusive).
    * Files whose zone is all-null for `col` are kept (nulls carry no
    * bound). Callers apply the row-level predicate on top. Partitioned
    * tables keep their partition columns (recovered from the `k=v` dirs
    * via `basePath`), so zone pruning composes with partition pruning —
    * and `partitionFilter` (a predicate over the sidecar's partition
    * columns) prunes the SIDECAR scan first, bounding the driver-side
    * kept-file list by the partition predicate instead of the whole
    * table's file count. */
  def readSkipping(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      column: String,
      lo: Any,
      hi: Any,
      partitionFilter: Option[org.apache.spark.sql.Column] = None,
      asOf: Option[TableVersions.CommitId] = None): DataFrame = {
    // probes speak the CURRENT logical name; the sidecar is keyed by the
    // stable physical name, so a rename never strands it
    val pc = ColumnMapping.physicalName(spark, log, table, column)
    prunedScan(spark, log, table, partitionFilter, asOf)(stats =>
      stats.where(
        col(s"min_$pc").isNull || col(s"max_$pc").isNull ||
          (col(s"max_$pc") >= lit(lo) && col(s"min_$pc") <= lit(hi))))
  }

  /** Scan the table's current version reading ONLY the files whose
    * distinct-value sketch (`dv_<column>`, written via `distinctCols`)
    * intersects `values` — EQUALITY/IN skipping, which prunes where zones
    * can't: a `col = 'x'` probe against hash-clustered (or merely
    * unclustered) data has every file's `[min, max]` spanning the domain,
    * but most files' value LISTS miss the probe. Files whose sketch is
    * NULL (cardinality above the cap, or all-null values) are kept —
    * the sketch only ever narrows. Same superset guarantee: callers
    * apply the row-level predicate on top. */
  def readSkippingEquals(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      logicalColumn: String,
      values: Seq[Any],
      partitionFilter: Option[org.apache.spark.sql.Column] = None,
      asOf: Option[TableVersions.CommitId] = None): DataFrame = {
    require(values.nonEmpty, "equality skipping needs at least one probe value")
    // current logical probe name -> the sidecar's stable physical key
    val column = ColumnMapping.physicalName(spark, log, table, logicalColumn)
    prunedScan(spark, log, table, partitionFilter, asOf) { stats =>
      val hasDv = stats.columns.contains(s"dv_$column")
      val hasBloom = stats.columns.contains(s"bloom_$column")
      require(hasDv || hasBloom,
        s"sidecar has no distinct-value sketch or bloom filter for '$column' " +
          s"— rewrite zone maps with distinctCols/bloomCols = Seq(${'"'}$column${'"'})")
      // tiered: a present exact list is authoritative; above its cap (dv
      // NULL) the bloom answers "definitely absent"; with neither, keep
      val dvDecides = if (hasDv) col(s"dv_$column").isNotNull else lit(false)
      val dvKeep =
        if (hasDv) arrays_overlap(col(s"dv_$column"), array(values.map(lit): _*))
        else lit(false)
      // the probe must hash the COLUMN type's string rendering (the write
      // side hashes CAST(col AS STRING) of the native value): an int probe
      // against a double column renders '17' vs '17.0' and would silently
      // FALSE-NEGATE. The sidecar itself records the column's true type —
      // min_<c> keeps it verbatim, dv_<c> in its element type — so coerce
      // the literal through it before the string cast.
      val columnType: Option[org.apache.spark.sql.types.DataType] =
        stats.schema.find(_.name == s"min_$column").map(_.dataType)
          .orElse(stats.schema.find(_.name == s"dv_$column").map(_.dataType).collect {
            case org.apache.spark.sql.types.ArrayType(et, _) => et
          })
          // bloom-only sidecar: the state's recorded data columns
          // ([[DataSchema]]) and its string-typed partition columns; a log
          // with no record (an earlier version's table, adopted files)
          // types them from the footers, as its reads do
          .orElse(DataSchema.at(spark, log, table, asOf)
            .map(ColumnMapping.applyWideningToSchema(
              _, ColumnMapping.widenedTypesAt(spark, log, table, asOf)))
            .getOrElse(VersionedScan(
              spark, log, table, asOf, overlays = Some(Nil),
              vectors = VersionedScan.Vectors.Raw).schema)
            .find(_.name == column).map(_.dataType)
            .orElse(table.partitionSchema.columns.find(_.name == column)
              .map(_ => org.apache.spark.sql.types.StringType)))
      val bloomKeep =
        if (hasBloom)
          when(col(s"bloom_$column").isNull, lit(true))
            .otherwise(values.map(v => bloomMayContain(col(s"bloom_$column"), v, columnType))
              .reduce(_ || _))
        else lit(true)
      stats.where(when(dvDecides, dvKeep).otherwise(bloomKeep))
    }
  }

  /** Probe `v` against a per-file bloom array: all [[BloomHashes]] bits
    * must be set. Positions mirror the write side exactly — both hash the
    * value's Spark STRING rendering AS THE COLUMN'S TYPE: the probe literal
    * is first cast through `columnType` (recovered from the sidecar's own
    * typed columns) so an int probe against a double/decimal column renders
    * '17.0' on both sides instead of silently false-negating. Without a
    * recoverable type (bloom-only sidecar with no min/dv column) the
    * literal's own rendering is used — exact for same-type probes. */
  private def bloomMayContain(
      bloom: org.apache.spark.sql.Column,
      v: Any,
      columnType: Option[org.apache.spark.sql.types.DataType]): org.apache.spark.sql.Column =
    (0 until BloomHashes).map { i =>
      val typed = columnType.fold(lit(v))(t => lit(v).cast(t))
      val pos = pmod(
        xxhash64(lit(i.toLong), typed.cast("string")), lit(BloomBits.toLong))
      val word = element_at(bloom, (pos / lit(64L)).cast("int") + lit(1))
      val mask = call_function("shiftleft", lit(1L), (pos % lit(64L)).cast("int"))
      word.bitwiseAND(mask) =!= lit(0L)
    }.reduce(_ && _)

  /** Shared pruned-scan tail: apply the partition predicate to the sidecar
    * (when it carries the partition columns), let `filePredicate` narrow
    * the O(#files) metadata, and hand Spark the surviving file list. */
  private def prunedScan(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      partitionFilter: Option[org.apache.spark.sql.Column],
      asOf: Option[TableVersions.CommitId] = None)(
      filePredicate: DataFrame => DataFrame): DataFrame = {
    // zone-map pruning rebuilds a file-list scan under ONE layout; a
    // mixed-era fold (metadata-only partition evolution) refuses loudly
    PartitionEvolution.requireUniformFold(log, table, "zone-map-pruned scan")
    val zones = spark.read.parquet(resolveStatsDir(spark, log, table, asOf))
    // a sidecar written before partition columns rode the grouping key
    // (pre-r9) can't evaluate a partition predicate — fall back to
    // zone-only pruning (a superset, still correct) instead of dying on
    // an unresolved-column analysis error at collect time
    val carryCols = table.partitionSchema.columns.map(_.name)
    val sidecarHasCarry = carryCols.forall(zones.columns.contains)
    if (!sidecarHasCarry && partitionFilter.isDefined)
      // visible signal, not just documented behavior: the caller's partition
      // predicate is exact (partition columns are row-constant per file), so
      // dropping it only widens the kept-file list — but silently returning
      // extra partitions surprises operators; tell them how to migrate
      System.err.println(
        s"[graft] WARN: sidecar for ${table.name.fullyQualifiedName} predates carry columns " +
          s"[${carryCols.mkString(",")}]; partition filter ignored for FILE pruning (superset, still " +
          "correct) — run writeZoneMaps once to migrate the sidecar")
    val stats =
      if (sidecarHasCarry) partitionFilter.foldLeft(zones)(_.where(_))
      else zones
    val keep = filePredicate(stats)
      .select("file")
      .collect()
      .map(_.getString(0))
    // merge-on-read state applies to PRUNED scans too: live row-overlay
    // rows union in, then DV pairs anti-join out — a raw kept-file read
    // would resurrect DV-hidden rows into every skipping query. Overlay
    // dirs carrying a `_stats` sidecar (written at append/squash time,
    // [[writeOverlayStats]]) get LEAF-LEVEL SKIPPING through the same
    // predicates as the main scan; dirs without one (or whose stats
    // predate a config change) union unpruned — a superset, still correct
    // (the caller's row predicate applies on top).
    def uriPath(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    def prunedLeaves(c: RowOverlay.Contribution): List[(Option[graft.core.Partition], String)] = {
      val sPath = new org.apache.hadoop.fs.Path(c.dir.stripSuffix("/") + "/_stats")
      val ofs = sPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (!ofs.exists(sPath)) return c.leaves
      try {
        val ost = spark.read.parquet(sPath.toString)
        val filtered =
          if (carryCols.forall(ost.columns.contains))
            partitionFilter.foldLeft(ost)(_.where(_))
          else ost
        val keptFiles = filePredicate(filtered)
          .select("file").collect().map(r => uriPath(r.getString(0))).toSet
        c.leaves.filter { case (_, leafPath) =>
          val lp = uriPath(leafPath)
          keptFiles.exists(f => f.startsWith(lp + "/") || f == lp)
        }
      } catch {
        // stats written under an older column config can't evaluate this
        // probe — unpruned superset, never a failure
        case _: org.apache.spark.sql.AnalysisException => c.leaves
      }
    }
    val overlays = RowOverlay.contributions(spark, log, table, asOf)
      .map(c => c.copy(leaves = prunedLeaves(c)))
    // the kept files read under the state's record: no footer job
    val scan = VersionedScan(
      spark, log, table, asOf, overlays = Some(overlays), files = Some(keep.toIndexedSeq),
      names = VersionedScan.Names.AtState)
    // the kept files already match the partition predicate; it prunes the
    // overlay leaves' rows here
    if (scan.columns.isEmpty || !sidecarHasCarry) scan
    else partitionFilter.foldLeft(scan)(_.where(_))
  }

  /** The version dirs of the current state (of `partitions` only, when
    * given) as written: no overlay rows, no vectors — the zone-map
    * writers' input. Stats sidecars key by file and must cover exactly
    * the version-dir files (overlay rows carry their OWN per-dir stats —
    * indexing them here would double-count). */
  private def versionDirs(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      partitions: Option[Set[graft.core.Partition]]): DataFrame =
    VersionedScan(
      spark, log, table, partitions = partitions, overlays = Some(Nil),
      vectors = VersionedScan.Vectors.Raw)
}
