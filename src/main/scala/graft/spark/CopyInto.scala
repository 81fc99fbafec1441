package graft.spark

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._
import graft.core.TableVersions.{CommitId, UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/**
 * `COPY INTO` — IDEMPOTENT bulk file ingestion (the Delta parity surface):
 * load files from a source directory into a versioned table such that
 * re-running the same command ingests each source file EXACTLY ONCE,
 * however many times it is retried and wherever it crashed.
 *
 * The load-history lives IN the commit log: each ingest commit's message
 * carries the source files it loaded (`COPY INTO … files=[a.parquet;…]`),
 * so the ingested-file set and the data commit are ONE atomic record — a
 * crash between "write data" and "remember the files" cannot exist, and
 * recovery is a metadata fold (scan the retained history's messages), the
 * same O(#commits) bound every other log fold pays. A log checkpoint
 * folds old ingest records away with their commits — pair the checkpoint
 * horizon with the source's retention, exactly like the StreamTxn
 * replay-marker contract.
 *
 * Ingestion is COPY-ON-WRITE APPEND (the SQL `INSERT INTO` carry): the
 * new files' rows are written through the ordinary pre-write pipeline —
 * generated columns derive, constraints enforce, column mapping applies —
 * the partitions they touch carry their current contents into the same
 * fresh dirs, then one versioned commit rebased on the state carried.
 * Scale shape: file listing is driver-side O(#source-files) metadata;
 * only the partitions the new rows land in are read and rewritten; the
 * already-ingested check is a set lookup, never a data read.
 */
object CopyInto {

  private val FilesMark = """COPY INTO [^\n]*? files=\[([^\]]*)\]""".r.unanchored

  final case class Result(
      ingestedFiles: Seq[String],
      skippedFiles: Seq[String],
      rows: Long,
      commit: Option[CommitId])

  /** Source files already loaded into `table` (the retained history's
    * ingest records, newest-first fold). Only messages with THIS module's
    * exact emission shape — `COPY INTO <this table's fq name> …` at the
    * head of the message — are parsed, so an unrelated commit whose
    * free-text happens to mention a files=[…] list is not absorbed into
    * the loaded set. */
  def loadedFiles(log: TableVersions, table: TableName): Set[String] =
    log.updates(table).iterator
      .filter(_.message.content.startsWith(s"COPY INTO ${table.fullyQualifiedName} "))
      .flatMap(u => FilesMark.findFirstMatchIn(u.message.content))
      .flatMap(_.group(1).split(";").iterator.map(_.trim).filter(_.nonEmpty))
      .toSet

  /** Ingest every not-yet-loaded file under `srcDir` (non-recursive,
    * hidden/underscore files skipped). Returns what was ingested, what was
    * skipped, and the commit that recorded it (None = nothing new).
    *
    * `pattern`: a file-name glob (`*.csv`, `part-??.json`) — only matching
    * files are considered AT ALL (non-matching files are neither ingested
    * nor recorded as skipped: a landing dir shared with other feeds stays
    * other feeds' business).
    *
    * `schema`/`options`: schema-CARRYING text sources (CSV/JSON) must
    * never schema-infer per batch — two batches of the same feed can
    * infer different types (all-integral numbers one day, a decimal the
    * next), silently forking the table's column types between commits. A
    * CSV/JSON ingest therefore REQUIRES a pinned schema: the explicit one,
    * or the table's current schema when it already has data. Self-describing
    * formats (parquet/ORC) ignore both. `options` feed the reader
    * (`header`, `delimiter`, …). NOTE the stock Spark CSV contract: a
    * user-provided schema maps to CSV columns POSITIONALLY (the header
    * row is skipped, not used for mapping) — the feed's column order must
    * match the pinned schema's. JSON maps by field name. */
  /** `onSchemaWiden`: called with the widened FULL table schema when
    * `spark.graft.dml.autoMergeSchema=true` and an arriving
    * self-describing batch carries new columns (or widened structs) — the
    * SQL command threads the catalog's declared-schema slot through it.
    * The widening itself follows the q94 MERGE contract: data first, then
    * one metadata audit commit; struct widenings anchor a schema state so
    * time travel reads the addressed commit's shape. */
  def ingest(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      srcDir: String,
      format: String,
      user: UserId,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      pattern: Option[String] = None,
      options: Map[String, String] = Map.empty,
      onSchemaWiden: org.apache.spark.sql.types.StructType => Unit = _ => ()): Result = {
    val log = ctx.metastore.tableVersions
    val dir0 = new HPath(srcDir)
    val fs = dir0.getFileSystem(spark.sessionState.newHadoopConf())
    // qualified ONCE (scheme + authority + absolute path): candidate paths
    // come back qualified from listStatus/globStatus, so relativizing
    // against an unqualified (e.g. relative) srcDir would miss the prefix
    // and collapse same-named files in different subdirs onto one load key
    val dir = fs.makeQualified(dir0)
    def visible(st: org.apache.hadoop.fs.FileStatus): Boolean = st.isFile && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    // PATTERN is a Hadoop-style glob RELATIVE to the landing dir: `*.csv`
    // scopes top-level files, `sub/*.orc` / `*/*.csv` cross directory
    // levels (one `*` per path segment — nested feeds keep their layout).
    // Without a pattern the contract stays top-level files only.
    val candidates = (pattern match {
      case Some(pat) =>
        Option(fs.globStatus(new HPath(dir, pat))).map(_.toSeq).getOrElse(Nil)
      case None => fs.listStatus(dir).toSeq
    }).filter(visible).map(_.getPath.toString).sorted
    require(candidates.nonEmpty, s"COPY INTO: no data files under $srcDir")
    // the history record delimits file names with ';' inside '[…]' — a
    // name containing the delimiters (or a newline, which the log's line
    // format reserves) would corrupt the parse into wrong skip/re-ingest
    // decisions, so such sources are rejected up front, loudly
    candidates.map(fileKey(dir, _)).foreach { n =>
      require(!n.exists(c => c == ';' || c == ']' || c == '[' || c == '\n' || c == '\r'),
        s"COPY INTO: source file name '$n' contains a reserved character " +
          "(';', '[', ']', or a newline) — rename the file to ingest it")
    }
    val done = loadedFiles(log, table.name)
    val fresh = candidates.filterNot(p => done.contains(fileKey(dir, p)))
    if (fresh.isEmpty)
      return Result(Nil, candidates, 0L, None)

    // the table's current state in LOGICAL names: everything COPY INTO
    // derives from it (the pinned-schema fallback, the batch's
    // alignment) enters the logical->physical write pipeline, so a raw
    // (physical-named) read would misresolve renamed columns
    lazy val currentLogical = ColumnMapping.read(spark, log, table)
    val autoMerge =
      TableProperties.effectiveFlag(spark, log, table, TableProperties.AutoMergeSchema)
    val reader0 = spark.read.format(format).options(options)
    val reader = format.toLowerCase match {
      case "csv" | "json" =>
        val pinned = schema.orElse {
          if (currentLogical.columns.nonEmpty) Some(currentLogical.schema) else None
        }.getOrElse(throw new IllegalArgumentException(
          s"COPY INTO from $format needs a pinned schema: pass one explicitly " +
            "or load the table's first data through a self-describing format " +
            "(per-batch schema inference drifts between ingests)"))
        reader0.schema(pinned)
      case _ =>
        // SCHEMA EVOLUTION (`spark.graft.dml.autoMergeSchema`, the q94
        // contract, self-describing formats only — a pinned text schema
        // cannot carry columns it doesn't know): read the files' OWN
        // schema so new columns survive to the widening below; without
        // the flag the registered schema pins the read, as before
        if (autoMerge) reader0
        else schema.map(reader0.schema).getOrElse(reader0)
    }
    val batch = reader.load(fresh: _*)
    val rows = batch.count()
    val selfDescribing =
      format.toLowerCase != "csv" && format.toLowerCase != "json"
    val extras =
      if (autoMerge && selfDescribing && currentLogical.columns.nonEmpty)
        batch.schema.filterNot(f =>
          currentLogical.columns.exists(_.equalsIgnoreCase(f.name))).toSeq
      else Nil
    // AUTOMATIC TYPE WIDENING (`graft.dml.typeWidening`): a batch carrying
    // a losslessly WIDER numeric leaf widens the TABLE instead of the
    // carry/union resolving by luck. Declared BEFORE the data lands — a
    // widen alone is benign (metadata-only; old files upcast), while
    // data-first would open a mixed-width-footers window with no scan
    // override on the untouched partitions.
    val numWide: List[(Seq[String], String)] =
      if (selfDescribing && currentLogical.columns.nonEmpty &&
          TableProperties.effectiveFlag(spark, log, table, TableProperties.TypeWidening))
        ColumnMapping.numericWidenings(currentLogical.schema, batch.schema)
      else Nil
    val numWideMap = numWide.map { case (p, t) =>
      p.map(_.toLowerCase(java.util.Locale.ROOT)).mkString(".") ->
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t)
    }.toMap
    val currentWidened =
      if (numWide.isEmpty) currentLogical.schema
      else ColumnMapping.applyWideningToSchema(currentLogical.schema, numWideMap)
    val structWide: Map[String, org.apache.spark.sql.types.DataType] =
      if (autoMerge && selfDescribing && currentLogical.columns.nonEmpty)
        StructEvolution.widenedColumns(currentWidened, batch.schema)
      else Map.empty
    // lift a carried frame's narrow structs to the batch's wide shape
    // (union would refuse the field-count mismatch; conform injects NULLs)
    def conformedCarry(df: DataFrame): DataFrame =
      if (structWide.isEmpty) df
      else df.select(df.columns.map { c =>
        import org.apache.spark.sql.functions.col
        structWide.get(c.toLowerCase(java.util.Locale.ROOT)) match {
          case Some(t) if df.schema(c).dataType != t =>
            StructEvolution.conform(col(c), df.schema(c).dataType, t).as(c)
          case _ => col(c)
        }
      }.toIndexedSeq: _*)
    val msg = UpdateMessage(
      s"COPY INTO ${table.name.fullyQualifiedName} from $srcDir " +
        s"files=[${fresh.map(fileKey(dir, _)).mkString(";")}]")
    // MERGE-ON-READ ingest (`spark.graft.dml.mergeOnRead`): the batch is
    // an APPEND — under the flag it lands as a row overlay (O(batch), no
    // partition re-carried; the load-history keys ride the same commit
    // message). First loads keep the ordinary path (nothing to carry).
    if (currentLogical.columns.nonEmpty &&
        spark.conf.get("spark.graft.dml.mergeOnRead", "false").toBoolean) {
      // overlay rows must share the stored shape — an evolving batch needs
      // the copy-on-write carry; refuse rather than fork the overlay union
      require(extras.isEmpty && structWide.isEmpty && numWide.isEmpty,
        "COPY INTO: schema evolution (new/widened columns in the arriving " +
          "batch) is not supported under spark.graft.dml.mergeOnRead — " +
          "ingest the evolving batch with mergeOnRead off")
      RowOverlay.append(batch, ctx, table, user, msg); ()
    } else {
      // the widen declarations land NOW — after the merge-on-read refusal
      // decision, before the data (a widen alone is benign; data-first
      // would open a mixed-width-footers window on untouched partitions)
      numWide.foreach { case (p, t) =>
        ColumnMapping.widenPath(spark, ctx, table, p, t, user)
      }
      // copy-on-write append, the SQL INSERT INTO discipline: the batch is
      // staged alone (aligned to the current columns, the new ones
      // appended), [[GraftV2Table.carry]] lands the touched partitions'
      // current rows in the same fresh dirs (a snapshot carries its whole
      // state), and the commit rebases on `readCommit` — a concurrent
      // commit on a touched partition throws instead of being dropped.
      // Read after the widen declarations: those commits move no pointer
      // but would count as whole-table intervening commits.
      val readCommit = log.currentCommit(table.name)
      val aligned =
        if (currentLogical.columns.isEmpty) batch
        else conformedCarry(currentLogical.limit(0))
          .unionByName(batch, allowMissingColumns = true)
      val staged = aligned.versionedStage(ctx, table, user, msg)
      GraftV2Table.carry(spark, ctx, table, aligned, readCommit, staged, conformedCarry)
      VersionContext.commitRebased(spark, ctx, staged, readCommit)
      // DATA FIRST, adds/struct-widening AFTER (the q94 discipline): the
      // declared schema and its audit commit land only once the data
      // commit is in (type widening declared up top — benign alone)
      if (extras.nonEmpty || structWide.nonEmpty || numWide.nonEmpty) {
        val base = currentLogical.schema
        val widened = org.apache.spark.sql.types.StructType(
          ColumnMapping.applyWideningToSchema(base, numWideMap)
            .map(f => structWide.get(f.name.toLowerCase(java.util.Locale.ROOT))
              .map(t => f.copy(dataType = t)).getOrElse(f)) ++
            extras.map(f => f.copy(nullable = true)))
        val parts = Seq(
          if (extras.nonEmpty)
            Some(s"ADD COLUMNS (${extras.map(_.name).mkString(", ")})") else None,
          if (structWide.nonEmpty)
            Some(s"WIDEN COLUMNS (${structWide.keys.toSeq.sorted.mkString(", ")})")
          else None,
          if (numWide.nonEmpty)
            Some(s"WIDEN TYPES (${numWide.map(_._1.mkString(".")).sorted.mkString(", ")})")
          else None
        ).flatten.mkString(", ")
        log.commit(table.name, graft.core.TableVersions.TableUpdate(
          user, UpdateMessage(s"COPY INTO SCHEMA EVOLUTION $parts"),
          java.time.Instant.now(), Nil).withTableMetadata(
          if (structWide.nonEmpty || numWide.nonEmpty) SchemaStates.entry(base, widened)
          else Map.empty))
        onSchemaWiden(widened)
      }
    }
    Result(fresh, candidates.filterNot(fresh.contains), rows,
      Some(log.currentCommit(table.name)))
  }

  /** History records key files by their path RELATIVE to the landing dir
    * (stable across copy/rename of the parent dir, the Delta COPY INTO
    * posture of identifying a load by its identity within the source) —
    * for top-level files that is the bare name, preserving every record
    * written before nested PATTERNs existed; nested files keep their
    * subpath so same-named files in different subdirs never collide. */
  private def fileKey(qualifiedBase: HPath, path: String): String = {
    val b = qualifiedBase.toUri.getPath.stripSuffix("/") + "/"
    val p = new HPath(path).toUri.getPath
    if (p.startsWith(b)) p.substring(b.length)
    else sys.error(
      s"COPY INTO: file $path does not relativize against the landing dir " +
        s"$qualifiedBase — refusing to fall back to the bare file name " +
        "(same-named files in different subdirs would share one load key " +
        "and silently skip)")
  }
}
