package graft.spark

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructType}

import graft.core.{FileFormat, Partition, PartitionColumn, PartitionSchema, PartitionedTableVersion, TableDefinition, TableName}
import graft.core.TableVersions.{UpdateMessage, UserId}

/**
 * SQL spellings for the MAINTENANCE operations, completing the SQL surface
 * next to DML/DDL/time-travel (`GraftTableCatalog`, `GraftDmlRule`):
 *
 * {{{
 *   OPTIMIZE graft.db.t                               -- bin-pack compaction
 *   OPTIMIZE graft.db.t ZORDER BY (c1, c2)            -- Z-curve clustering
 *   VACUUM graft.db.t                                 -- storage GC
 *   VACUUM graft.db.t RETAIN 5 COMMITS GRACE 0 MINUTES
 *   VACUUM graft.db.t RETAIN 168 HOURS                -- wall-clock retention
 *   DESCRIBE HISTORY graft.db.t                       -- the commit log
 *   RESTORE TABLE graft.db.t TO VERSION AS OF 'v'     -- rollback (ref or id)
 *   RESTORE TABLE graft.db.t TO TIMESTAMP AS OF 'ts'  -- at-or-before rule
 *   ALTER TABLE graft.db.t ADD CONSTRAINT nm CHECK (expr)  -- write-path invariant
 *   ALTER TABLE graft.db.t DROP CONSTRAINT nm
 *   ALTER TABLE graft.db.t ADD COLUMN c BIGINT GENERATED ALWAYS AS IDENTITY
 *   ALTER TABLE graft.db.t SET PARTITIONED BY (c1, c2)     -- scheme evolution
 *   ALTER TABLE graft.db.t SET PARTITIONED BY (c1) METADATA ONLY
 *   ALTER TABLE graft.db.t CONSOLIDATE PARTITION ERAS      -- deferred rewrite
 *   ALTER TABLE graft.db.t SQUASH SIDECARS                  -- fold DV + overlay debt
 *   COPY INTO graft.db.t FROM '<dir>' FILEFORMAT = CSV
 *     PATTERN = '*.csv' FORMAT_OPTIONS ('header' = 'true')
 *   INSERT INTO graft.db.t REPLACE WHERE pred SELECT …  -- selective overwrite
 *   GENERATE symlink_format_manifest FOR TABLE graft.db.t  -- Presto/Trino interop
 *   BEGIN GRAFT TRANSACTION                              -- multi-table txn
 *   STAGE INSERT INTO graft.db.t SELECT …                -- stage an append
 *   STAGE INSERT OVERWRITE graft.db.t SELECT …           -- stage a refresh
 *   COMMIT GRAFT TRANSACTION / ROLLBACK GRAFT TRANSACTION -- one atomic marker
 *   ALTER TABLE graft.db.t CREATE BRANCH b [AS OF VERSION 'v']  -- WAP refs
 *   ALTER TABLE graft.db.t DROP BRANCH b / CREATE TAG g / DROP TAG g
 *   ALTER TABLE graft.db.t PUBLISH BRANCH b              -- WAP endgame
 * }}}
 *
 * Spark's grammar has no OPTIMIZE/VACUUM statements, so an injected parser
 * (the Delta Lake pattern) recognizes exactly these two statement heads and
 * delegates EVERYTHING else — including every error path — to the session's
 * stock parser. Each statement executes through the corresponding Scala API
 * ([[Compaction.compact]], [[ZOrder.zorderCompact]], [[Vacuum.vacuum]]), so
 * OPTIMIZE is one ordinary time-travelable commit and VACUUM honors the
 * same retention/grace contract as the programmatic call.
 *
 * Retention accepts both spellings: `RETAIN n COMMITS` (this engine's
 * native commit-count retention) and `RETAIN n HOURS` (Delta's wall-clock
 * contract — every commit recorded within the window is retained, next to
 * the always-kept latest commit). Grace is MINUTES (matching
 * [[Vacuum.DefaultGraceMs]]'s writer-in-flight contract).
 */
final class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftMaintenanceSql.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))

  /** MUST forward explicitly: the interface default drops the parameter
    * context (it just calls `parsePlan`), which would silently unbind every
    * parameterized `spark.sql(sql, args)` routed through this wrapper —
    * the delegate's real override only runs if we call it. Maintenance
    * statements themselves take no bind parameters. */
  override def parsePlanWithParameters(
      sqlText: String,
      parameters: org.apache.spark.sql.catalyst.parser.ParameterContext): LogicalPlan =
    GraftMaintenanceSql.parse(sqlText)
      .getOrElse(delegate.parsePlanWithParameters(sqlText, parameters))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

private[spark] object GraftMaintenanceSql {

  // anchored full-statement matches; no stock Spark statement starts with
  // either keyword, so a non-match falls through to the delegate untouched
  private val VacuumStmt =
    """(?is)\s*VACUUM\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)(?:\s+RETAIN\s+(\d+)\s+(COMMITS|HOURS))?(?:\s+GRACE\s+(\d+)\s+MINUTES)?(\s+DRY\s+RUN)?\s*;?\s*""".r
  // ZORDER cols: either a BALANCED paren group or a bare comma list (which
  // cannot contain parens) — `ZORDER BY (c1, c2` or `ZORDER BY c1)` match
  // neither alternative, so the whole statement falls through to the stock
  // parser and fails loudly instead of silently rewriting the table
  private val OptimizeStmt =
    """(?is)\s*OPTIMIZE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s+(\([^()]*\)|[\w\s,]+?))?(?:\s+TARGET\s+(\d+)\s*MB)?\s*;?\s*""".r
  // OPTIMIZE t AUTO [MIN n FILES]: compact only the partitions under
  // small-file pressure (Compaction.autoCompact); below-threshold = no-op
  private val AutoOptimizeStmt =
    """(?is)\s*OPTIMIZE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+AUTO(?:\s+MIN\s+(\d+)\s+FILES)?\s*;?\s*""".r
  // `WHERE` accepts a conjunction of partition-column equalities (the Delta
  // contract — OPTIMIZE scoping is partition-granular by nature); anything
  // else refuses loudly at execution
  private val WhereEq = """(?is)\s*(\w+)\s*=\s*(?:'([^']*)'|(\w+))\s*""".r
  private val HistoryStmt =
    """(?is)\s*DESCRIBE\s+HISTORY\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s*;?\s*""".r
  private val DetailStmt =
    """(?is)\s*DESCRIBE\s+DETAIL\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s*;?\s*""".r
  // RESTORE TABLE t TO VERSION AS OF '<ref-or-commit-id>' (Delta spelling);
  // the TIMESTAMP variant resolves at-or-before like q53's reader
  private val RestoreStmt =
    """(?is)\s*RESTORE\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+TO\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  // ALTER TABLE t ADD CONSTRAINT name CHECK (expr) — Delta spelling; the
  // greedy group runs to the LAST ')', so parenthesized expressions nest
  private val AddConstraintStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraintStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r
  // CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF '<ref-or-commit-id>']
  // — zero-copy fork (Delta spelling); both names must be graft refs in
  // the SAME catalog (one commit log owns the shared location's linkage)
  private val CloneStmt =
    """(?is)\s*CREATE\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+SHALLOW\s+CLONE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)(?:\s+VERSION\s+AS\s+OF\s+'([^']+)')?\s*;?\s*""".r
  // CREATE TABLE dst DEEP CLONE src [VERSION AS OF '<x>'] [LOCATION '<p>']
  // — independent physical copy ([[DeepClone]]): resolved rows + carried
  // declarations at the clone's OWN location; no vacuum coupling
  private val DeepCloneStmt =
    """(?is)\s*CREATE\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+DEEP\s+CLONE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)(?:\s+VERSION\s+AS\s+OF\s+'([^']+)')?(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*""".r
  // CONVERT TO GRAFT cat.db.t FROM '<path>' [PARTITIONED BY (c1, c2)]
  //   [FORMAT parquet|orc] — in-place adoption of a pre-existing plain
  // data directory ([[ConvertToGraft]]): files rename into one minted
  // version label (no byte copy), one commit registers every partition
  private val ConvertStmt =
    """(?is)\s*CONVERT\s+TO\s+GRAFT\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+FROM\s+'([^']+)'(?:\s+PARTITIONED\s+BY\s*\(([^()]*)\))?(?:\s+FORMAT\s+(\w+))?(\s+DRY\s+RUN)?\s*;?\s*""".r
  // SHOW CREATE TABLE cat.db.t — the full round-trippable DDL script:
  // CREATE (schema/format/partitioning/LOCATION/TBLPROPERTIES) plus the
  // ALTER statements for every commit-carried declaration (constraints,
  // generated/identity/default columns, row tracking)
  private val ShowCreateStmt =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)(?:\s+VERSION\s+AS\s+OF\s+'([^'\n]+)')?\s*;?\s*""".r
  // CREATE MATERIALIZED VIEW mv [LOCATION '<path>'] AS SELECT ... — the
  // SELECT is analyzed (not regex-parsed) at execution; only the
  // incrementally-maintainable shape is admitted (MaterializedView)
  private val CreateMvStmt =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)(?:\s+LOCATION\s+'([^']+)')?\s+AS\s+(SELECT\b.+?)\s*;?\s*""".r
  private val RefreshMvStmt =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)(\s+FULL)?\s*;?\s*""".r
  // COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|ORC|CSV|JSON
  //   [PATTERN = '<glob>'] [FORMAT_OPTIONS ('k' = 'v', …)] — Delta's
  // idempotent bulk ingest: each source file loads exactly once (CopyInto);
  // PATTERN scopes the landing dir, FORMAT_OPTIONS feed the reader, and
  // CSV/JSON ingests pin the table's declared schema (never per-batch
  // inference)
  private val CopyIntoStmt =
    """(?is)\s*COPY\s+INTO\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)(?:\s+PATTERN\s*=\s*'([^']+)')?(?:\s+FORMAT_OPTIONS\s*\(([^)]*)\))?\s*;?\s*""".r
  // ALTER TABLE t ADD COLUMN c <type> GENERATED ALWAYS AS (expr) — the
  // Delta spelling; records the generation rule (write-path derivation +
  // validation), the column itself materializes via additive evolution
  private val AddGeneratedStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+ADD\s+COLUMN\s+(\w+)\s+(\w+)\s+GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*;?\s*""".r
  // ALTER TABLE t ADD COLUMN c BIGINT GENERATED ALWAYS AS IDENTITY — the
  // Delta identity spelling (no parens — disjoint from AddGeneratedStmt):
  // declares the engine-assigned id column; SQL INSERTs then stamp it
  private val AddIdentityStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+ADD\s+COLUMN\s+(\w+)\s+(\w+)\s+GENERATED\s+ALWAYS\s+AS\s+IDENTITY\s*;?\s*""".r
  // ALTER TABLE t SET PARTITIONED BY (c1, c2) — partition-scheme
  // evolution at a commit boundary (PartitionEvolution.evolve): one
  // atomic re-partitioning rewrite; eras resolve per commit range
  // ALTER TABLE t SET ROW TRACKING — declare the engine's hidden stable
  // row id (RowTracking.enable); keyless CDF update classification
  private val SetRowTrackingStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + """((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)""" +
      """\s+SET\s+ROW\s+TRACKING\s*;?\s*""").r

  private val SetPartitionedStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+SET\s+PARTITIONED\s+BY\s*\(([^()]*)\)(\s+METADATA\s+ONLY)?\s*;?\s*""".r
  // ALTER TABLE t CONSOLIDATE PARTITION ERAS [FILES n PER PARTITION] —
  // the deferred rewrite of a METADATA ONLY evolution
  // (PartitionEvolution.consolidateEras): one whole-table-scoped commit
  // unifies a mixed fold under the current scheme, restoring the
  // rewrite-shaped ops (OPTIMIZE / Z-ORDER / UPDATE / DELETE / MERGE)
  private val ConsolidateErasStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+CONSOLIDATE\s+PARTITION\s+ERAS(?:\s+FILES\s+(\d+)\s+PER\s+PARTITION)?\s*;?\s*""".r

  // ALTER TABLE t SQUASH SIDECARS — fold the merge-on-read debt without a
  // data rewrite: every live deletion-vector sidecar re-anchors as ONE
  // complete pair set (DeletionVectors.squashSidecars) and every live
  // row-overlay dir as ONE complete dir (RowOverlay.squash), so reads
  // open O(1) sidecars again; OPTIMIZE stays the rewrite that absorbs
  private val SquashSidecarsStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+SQUASH\s+SIDECARS\s*;?\s*""".r
  // ALTER TABLE t ALTER COLUMN c SET DEFAULT expr / DROP DEFAULT — the
  // SQL-standard column-default spelling (ColumnDefaults): future writes
  // that omit the column fill it with the declared constant; existing
  // rows are never rewritten
  // Branch / tag DDL (the Iceberg spellings) over the WAP ref machinery:
  // CREATE BRANCH|TAG nm [AS OF VERSION '<ref-or-commit>'], DROP
  // BRANCH|TAG nm, and the WAP endgame PUBLISH BRANCH nm
  private val CreateRefStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+CREATE\s+(BRANCH|TAG)\s+(\w+)(?:\s+AS\s+OF\s+VERSION\s+'([^']+)')?\s*;?\s*""".r
  private val DropRefStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+DROP\s+(BRANCH|TAG)\s+(\w+)\s*;?\s*""".r
  private val PublishBranchStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+PUBLISH\s+BRANCH\s+(\w+)\s*;?\s*""".r
  // GENERATE symlink_format_manifest FOR TABLE t — the Delta spelling for
  // Presto/Trino/Athena interop ([[SymlinkManifest]])
  private val GenerateStmt =
    """(?is)\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s*;?\s*""".r
  // INSERT INTO t REPLACE WHERE <pred> <SELECT …> — transactional
  // selective overwrite (Delta's replaceWhere). The predicate is the
  // stretch before the source query's head keyword, found by a scan that
  // SKIPS quoted string literals (so `note = 'select all' SELECT …`
  // splits at the real SELECT, not inside the literal); the predicate
  // must be subquery-free (it is a region descriptor, not a query — a
  // SELECT inside it splits early and refuses at execution, never
  // silently).
  private val ReplaceWhereStmt =
    """(?is)\s*INSERT\s+INTO\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+REPLACE\s+WHERE\s+(.+?)\s*;?\s*""".r

  private val ReplaceWhereHeads = Set("select", "values", "with", "from", "table")

  /** Split `<pred> <source-query>` at the first source-head keyword that
    * sits OUTSIDE '…'/"…"/`…` quoting (with '' as the single-quote
    * escape), at a word boundary, with a non-empty predicate before it. */
  private[spark] def splitReplaceWhere(rest: String): Option[(String, String)] = {
    val n = rest.length
    var i = 0
    var quote: Char = 0
    while (i < n) {
      val c = rest.charAt(i)
      if (quote != 0) {
        if (c == quote) {
          if (quote == '\'' && i + 1 < n && rest.charAt(i + 1) == '\'') i += 1
          else quote = 0
        }
      } else if (c == '\'' || c == '"' || c == '`') quote = c
      else if (c.isLetter && i > 0 &&
          (rest.charAt(i - 1).isWhitespace || rest.charAt(i - 1) == ')')) {
        var j = i
        while (j < n && (rest.charAt(j).isLetterOrDigit || rest.charAt(j) == '_')) j += 1
        if (ReplaceWhereHeads.contains(rest.substring(i, j).toLowerCase(
            java.util.Locale.ROOT))) {
          val pred = rest.substring(0, i).trim
          if (pred.nonEmpty) return Some((pred, rest.substring(i).trim))
        }
        i = j - 1
      }
      i += 1
    }
    None
  }
  // Multi-table transactions (q79's commitAll, SQL-driven): BEGIN opens a
  // session-scoped staging buffer, STAGE INSERT runs each write job NOW
  // (data lands as never-referenced version dirs), COMMIT moves every
  // staged pointer in ONE atomic step of the shared log (the WAL-marker
  // protocol), ROLLBACK abandons the buffer (dirs orphan for vacuum)
  private val BeginTxnStmt =
    """(?is)\s*BEGIN\s+GRAFT\s+TRANSACTION\s*;?\s*""".r
  private val CommitTxnStmt =
    """(?is)\s*COMMIT\s+GRAFT\s+TRANSACTION\s*;?\s*""".r
  private val RollbackTxnStmt =
    """(?is)\s*ROLLBACK\s+GRAFT\s+TRANSACTION\s*;?\s*""".r
  private val StageInsertStmt =
    """(?is)\s*STAGE\s+INSERT\s+(INTO|OVERWRITE)\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+(.+?)\s*;?\s*""".r

  private val SetDefaultStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+DEFAULT\s+(.+?)\s*;?\s*""".r
  private val DropDefaultStmt =
    """(?is)\s*ALTER\s+TABLE\s+((?:\w+|`[^`\n]+`)(?:\.(?:\w+|`[^`\n]+`))*)\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+DEFAULT\s*;?\s*""".r

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    // guard: intercept only `catalog.db.table` names whose catalog is a
    // graft catalog (bound, or declared in the session conf for the
    // logDir-only setup) — `DESCRIBE history addr.city` (column describe
    // on a table literally named "history") keeps flowing to the stock
    // parser because "addr" names no graft catalog
    case HistoryStmt(ident) if isGraftCatalogRef(split(ident)) =>
      Some(GraftDescribeHistoryCommand(parts(ident)))
    case DetailStmt(ident) if isGraftCatalogRef(split(ident)) =>
      Some(GraftDescribeDetailCommand(parts(ident)))
    // VACUUM/OPTIMIZE carry the same catalog guard as DESCRIBE HISTORY:
    // stock Spark has neither statement, but a coexisting injected parser
    // (Delta's, say) may define both — a non-graft (or 1/2-part) name must
    // fall through to the delegate chain, not die on a graft lookup error
    case VacuumStmt(ident, keep, unit, grace, dry) if isGraftCatalogRef(split(ident)) =>
      val hours = Option(unit).exists(_.equalsIgnoreCase("HOURS"))
      Some(GraftVacuumCommand(
        parts(ident),
        keepLast = Option(keep).filterNot(_ => hours).map(_.toInt),
        retainHours = Option(keep).filter(_ => hours).map(_.toLong),
        graceMinutes = Option(grace).map(_.toLong),
        dryRun = Option(dry).exists(_.trim.nonEmpty)))
    case AutoOptimizeStmt(ident, minFiles) if isGraftCatalogRef(split(ident)) =>
      Some(GraftAutoOptimizeCommand(parts(ident), Option(minFiles).map(_.toInt)))
    case OptimizeStmt(ident, where, cols, targetMb) if isGraftCatalogRef(split(ident)) =>
      val scope = Option(where).map { w =>
        w.split("(?i)\\s+AND\\s+").toSeq.map {
          case WhereEq(k, quoted, bare) => k -> Option(quoted).getOrElse(bare)
          case other => sys.error(
            s"OPTIMIZE ... WHERE accepts partition-column equalities only, got: $other")
        }
      }.getOrElse(Nil)
      Some(GraftOptimizeCommand(
        parts(ident),
        Option(cols).map(_.stripPrefix("(").stripSuffix(")")).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
        scope,
        Option(targetMb).map(_.toLong)))
    case RestoreStmt(ident, kind, target) if isGraftCatalogRef(split(ident)) =>
      Some(GraftRestoreCommand(
        parts(ident), target, byTimestamp = kind.equalsIgnoreCase("TIMESTAMP")))
    case CloneStmt(dst, src, asOf)
        if isGraftCatalogRef(split(src)) && isGraftCatalogRef(split(dst)) &&
          split(src).head == split(dst).head =>
      Some(GraftShallowCloneCommand(parts(dst), parts(src), Option(asOf)))
    case DeepCloneStmt(dst, src, asOf, loc)
        if isGraftCatalogRef(split(src)) && isGraftCatalogRef(split(dst)) &&
          split(src).head == split(dst).head =>
      Some(GraftDeepCloneCommand(parts(dst), parts(src), Option(asOf), Option(loc)))
    case ConvertStmt(ident, path, cols, fmt, dry) if isGraftCatalogRef(split(ident)) =>
      Some(GraftConvertCommand(
        parts(ident), path,
        Option(cols).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
        Option(fmt).map(_.toLowerCase(java.util.Locale.ROOT)),
        dryRun = Option(dry).exists(_.trim.nonEmpty)))
    case CreateMvStmt(ident, loc, select) if isGraftCatalogRef(split(ident)) =>
      Some(GraftCreateMvCommand(parts(ident), Option(loc), select.trim))
    case RefreshMvStmt(ident, full) if isGraftCatalogRef(split(ident)) =>
      Some(GraftRefreshMvCommand(parts(ident), full = Option(full).exists(_.trim.nonEmpty)))
    case CopyIntoStmt(ident, src, fmt, pat, opts) if isGraftCatalogRef(split(ident)) =>
      Some(GraftCopyIntoCommand(
        parts(ident), src, fmt.toLowerCase, Option(pat), parseOptionPairs(opts)))
    case AddIdentityStmt(ident, column, dtype) if isGraftCatalogRef(split(ident)) =>
      Some(GraftAddIdentityColumnCommand(parts(ident), column, dtype))
    case SetRowTrackingStmt(ident) if isGraftCatalogRef(split(ident)) =>
      Some(GraftSetRowTrackingCommand(parts(ident)))
    case ConsolidateErasStmt(ident, files) if isGraftCatalogRef(split(ident)) =>
      Some(GraftConsolidateErasCommand(
        parts(ident), Option(files).map(_.toInt).getOrElse(1)))
    case SquashSidecarsStmt(ident) if isGraftCatalogRef(split(ident)) =>
      Some(GraftSquashSidecarsCommand(parts(ident)))
    case SetPartitionedStmt(ident, cols, metaOnly) if isGraftCatalogRef(split(ident)) =>
      val names = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (names.isEmpty) sys.error("SET PARTITIONED BY needs at least one column")
      Some(GraftSetPartitionedCommand(parts(ident), names, metaOnly != null))
    case AddGeneratedStmt(ident, column, colType, genExpr) if isGraftCatalogRef(split(ident)) =>
      Some(GraftAddGeneratedColumnCommand(
        parts(ident), column, genExpr.trim,
        colType = Some(colType.toUpperCase(java.util.Locale.ROOT))))
    case CreateRefStmt(ident, kind, name, asOf) if isGraftCatalogRef(split(ident)) =>
      Some(GraftRefCommand(
        parts(ident), name, isTag = kind.equalsIgnoreCase("TAG"),
        action = "create", asOf = Option(asOf)))
    case DropRefStmt(ident, kind, name) if isGraftCatalogRef(split(ident)) =>
      Some(GraftRefCommand(
        parts(ident), name, isTag = kind.equalsIgnoreCase("TAG"), action = "drop"))
    case PublishBranchStmt(ident, name) if isGraftCatalogRef(split(ident)) =>
      Some(GraftRefCommand(parts(ident), name, isTag = false, action = "publish"))
    case GenerateStmt(ident) if isGraftCatalogRef(split(ident)) =>
      Some(GraftGenerateManifestCommand(parts(ident)))
    case BeginTxnStmt() => Some(GraftBeginTxnCommand())
    case CommitTxnStmt() => Some(GraftCommitTxnCommand())
    case RollbackTxnStmt() => Some(GraftRollbackTxnCommand())
    case StageInsertStmt(mode, ident, src) if isGraftCatalogRef(split(ident)) =>
      Some(GraftStageInsertCommand(
        parts(ident), src.trim, overwrite = mode.equalsIgnoreCase("OVERWRITE")))
    case ReplaceWhereStmt(ident, rest) if isGraftCatalogRef(split(ident)) =>
      splitReplaceWhere(rest) match {
        case Some((predSql, srcSql)) =>
          Some(GraftReplaceWhereCommand(parts(ident), predSql, srcSql))
        case None => sys.error(
          "INSERT INTO ... REPLACE WHERE needs a source query (SELECT / " +
            "VALUES / WITH / FROM / TABLE) after the predicate; none found " +
            s"outside string literals in: $rest")
      }
    case SetDefaultStmt(ident, column, defExpr) if isGraftCatalogRef(split(ident)) =>
      Some(GraftSetDefaultCommand(parts(ident), column, Some(defExpr.trim)))
    case DropDefaultStmt(ident, column) if isGraftCatalogRef(split(ident)) =>
      Some(GraftSetDefaultCommand(parts(ident), column, None))
    case AddConstraintStmt(ident, name, expr) if isGraftCatalogRef(split(ident)) =>
      Some(GraftAddConstraintCommand(parts(ident), name, expr.trim))
    case DropConstraintStmt(ident, name) if isGraftCatalogRef(split(ident)) =>
      Some(GraftDropConstraintCommand(parts(ident), name))
    case ShowCreateStmt(ident, asOf) if isGraftCatalogRef(split(ident)) =>
      Some(GraftShowCreateTableCommand(parts(ident), Option(asOf)))
    case _ => None
  }

  // identifier segments: dots split only OUTSIDE backquotes
  private def segments(ident: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    ident.foreach {
      case '`' => inQ = !inQ; sb += '`'
      case '.' if !inQ => out += sb.result(); sb.clear()
      case c => sb += c
    }
    out += sb.result()
    out.toList
  }

  /** Guard-side split: backquotes strip, nothing rejects — a NON-graft
    * statement must keep falling through to the delegate parser. */
  private def split(ident: String): Seq[String] =
    segments(ident).map(seg =>
      if (seg.startsWith("`")) seg.stripPrefix("`").stripSuffix("`") else seg)

  /** Construction-side split: like [[split]], but an UNQUOTED segment
    * colliding with this grammar's own keywords refuses loudly (backquote
    * it) — a silent mis-parse (`OPTIMIZE auto` reading as auto-compaction
    * of nothing) is the failure mode this guards. */
  private def parts(ident: String): Seq[String] =
    segments(ident).map { seg =>
      if (seg.startsWith("`")) seg.stripPrefix("`").stripSuffix("`")
      else if (ReservedWords(seg.toLowerCase(java.util.Locale.ROOT))) sys.error(
        s"identifier segment '$seg' collides with a reserved word of the " +
          s"graft SQL surface — backquote it (`$seg`)")
      else seg
    }

  private val ReservedWords: Set[String] = Set(
    "optimize", "vacuum", "restore", "describe", "history", "detail",
    "zorder", "auto", "copy", "into", "pattern", "fileformat",
    "format_options", "shallow", "clone", "refresh", "materialized",
    "view", "constraint", "generated", "identity", "partitioned",
    "metadata", "retain", "grace", "dry", "run", "commits", "hours",
    "minutes", "only", "always", "replace", "generate", "branch", "tag",
    "publish")

  /** `'k' = 'v', 'k2' = 'v2'` → Map — the FORMAT_OPTIONS body. The body
    * is scanned with the pair regex (never pre-split on commas: a quoted
    * VALUE may itself contain one — `'sep' = ','`), and full coverage is
    * verified so a malformed stretch between pairs still fails loudly. */
  private val OptionPair = """\s*'([^']+)'\s*=\s*'([^']*)'\s*(,|$)""".r
  private def parseOptionPairs(body: String): Map[String, String] =
    Option(body).filter(_.trim.nonEmpty).map { b =>
      val ms = OptionPair.findAllMatchIn(b).toList
      val covered = ms.headOption.exists(_.start == 0) &&
        ms.zip(ms.drop(1)).forall { case (a, c) => a.end == c.start } &&
        ms.lastOption.exists(_.end == b.length)
      if (!covered) sys.error(
        s"FORMAT_OPTIONS expects 'key' = 'value' pairs, got '${b.trim}'")
      ms.map(m => m.group(1) -> m.group(2)).toMap
    }.getOrElse(Map.empty)

  private def isGraftCatalogRef(parts: Seq[String]): Boolean = parts match {
    case Seq(cat, _, _) =>
      GraftTableCatalog.isBound(cat) ||
        SparkSession.getActiveSession.exists(_.conf
          .getOption(s"spark.sql.catalog.$cat")
          .contains(classOf[GraftTableCatalog].getName))
    case _ => false
  }

  /** Resolve `catalog.db.table` to its binding + definition at EXECUTION
    * time (parse time has no catalog access). Touching the catalog through
    * the manager first makes a conf-only (`logDir`) catalog initialize
    * itself before the lookup. */
  def resolve(
      session: SparkSession,
      parts: Seq[String]): (GraftTableCatalog.Binding, TableDefinition) = {
    val fqn = parts.mkString(".")
    parts match {
      case Seq(cat, db, t) =>
        try session.sessionState.catalogManager.catalog(cat)
        catch { case _: Exception => () }
        GraftTableCatalog.lookup(cat, TableName(db, t)).getOrElse(
          sys.error(s"$fqn is not a registered graft table " +
            s"(bind the catalog and register the table, or set logDir)"))
      case _ =>
        sys.error(s"graft maintenance SQL needs a catalog.db.table name, got $fqn")
    }
  }

  /** The shared `VERSION AS OF` target resolution: a REF NAME (branch/tag)
    * wins — human-chosen names first; an ALL-DIGITS target addresses the
    * `DESCRIBE HISTORY` `commit_index` coordinate (1-based, oldest = 1 —
    * the numeric-version UX Delta users expect, readable straight off the
    * history listing); anything else is a raw commit id. An out-of-range
    * index refuses loudly rather than falling through to a nonsense id. */
  def resolveVersionTarget(
      log: graft.core.TableVersions,
      name: TableName,
      target: String): graft.core.TableVersions.CommitId =
    log.refs(name).get(target).map(_.id).getOrElse {
      if (target.matches("[0-9]{1,9}")) {
        val updates = log.updates(name) // most recent first
        val idx = target.toInt
        require(idx >= 1 && idx <= updates.size,
          s"commit index $idx is outside 1..${updates.size} for " +
            s"${name.fullyQualifiedName} (DESCRIBE HISTORY shows the valid range)")
        updates(updates.size - idx).id
      } else graft.core.TableVersions.CommitId(target)
    }
}

/** `OPTIMIZE t [WHERE <partition equalities>] [ZORDER BY (cols)]` — one
  * versioned compaction commit. `WHERE` scopes the rewrite to the matching
  * partitions (the 100 TB posture: OPTIMIZE the hot partitions, not the
  * table); their deletion vectors are shed, untouched partitions keep
  * their version pointers. A predicate matching nothing is a no-op (0
  * changes, no commit). */
final case class GraftOptimizeCommand(
    parts: Seq[String],
    zorderCols: Seq[String],
    whereScope: Seq[(String, String)] = Nil,
    targetMb: Option[Long] = None) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("changed", IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    // declared clustering (TBLPROPERTIES graft.zorder.columns): a bare
    // OPTIMIZE on such a table Z-orders by the declared columns — the
    // operator stops re-typing the clustering every maintenance run
    val effZorder =
      if (zorderCols.nonEmpty) zorderCols
      else TableProperties.get(session, binding.log, defn, "graft.zorder.columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val op = (if (effZorder.isEmpty) "OPTIMIZE" else "OPTIMIZE ZORDER") +
      (if (whereScope.nonEmpty) " WHERE" else "")
    val scope: Seq[graft.core.Partition] =
      if (whereScope.isEmpty) Nil
      else {
        require(!defn.isSnapshot,
          "OPTIMIZE ... WHERE requires a partitioned table")
        val partCols = defn.partitionSchema.columns.map(_.name.toLowerCase).toSet
        whereScope.foreach { case (k, _) =>
          require(partCols.contains(k.toLowerCase),
            s"OPTIMIZE ... WHERE accepts partition columns only; $k is not one " +
              s"of [${defn.partitionSchema.columns.map(_.name).mkString(", ")}]")
        }
        val current = binding.log.currentVersion(defn.name) match {
          case graft.core.PartitionedTableVersion(pvs) => pvs.keys.toSeq
          case _                                       => Nil
        }
        current.filter(p => whereScope.forall { case (k, v) =>
          p.columnValues.exists(cv =>
            cv.column.name.equalsIgnoreCase(k) && cv.value == v)
        })
      }
    if (whereScope.nonEmpty && scope.isEmpty) return Seq(Row(op, 0))
    // bytes-aware target: the statement's own TARGET n MB, else the
    // table's declared graft.optimize.targetFileSize (bytes) — consulted
    // on BOTH paths: a size-capped Z-order range-bins (partition cols, z)
    // across ceil(bytes/target) writers, so routine re-clustering keeps
    // files scan-sized instead of rebuilding per-partition monoliths
    // (the Delta OPTIMIZE ZORDER + maxFileSize contract)
    val targetBytes: Option[Long] =
      targetMb.map(_ * 1024L * 1024L).orElse(
        TableProperties.get(
          session, binding.log, defn, TableProperties.OptimizeTargetFileSize).map(v =>
          // legacy values predating the typed-contract gate fail their
          // first consultation NAMING table/key/value (the TableProperties
          // discipline), never as a bare NumberFormatException
          v.trim.toLongOption.filter(_ > 0).getOrElse(sys.error(
            s"invalid value '$v' for property " +
              s"${TableProperties.OptimizeTargetFileSize} on " +
              s"${defn.name.fullyQualifiedName} — expected a positive byte " +
              "count; UNSET it or SET a valid value"))))
    val (_, changes) =
      if (effZorder.nonEmpty)
        ZOrder.zorderCompact(
          session, ctx, defn, UserId("sql"),
          UpdateMessage(s"$op (SQL) by ${effZorder.mkString(",")}" +
            targetBytes.fold("")(t => s" target ${t}B")),
          effZorder, partitions = scope, targetBytes = targetBytes)
      else targetBytes match {
        case Some(t) =>
          Compaction.compactToSize(
            session, ctx, defn, UserId("sql"),
            UpdateMessage(s"$op (SQL) target ${t}B"), t, partitions = scope)
        case None =>
          Compaction.compact(
            session, ctx, defn, UserId("sql"), UpdateMessage(s"$op (SQL)"),
            partitions = scope)
      }
    Seq(Row(op, changes.operations.size))
  }
}

/** `DESCRIBE HISTORY t` — the commit log as a result set, newest first
  * (the Delta spelling): one row per commit with its index (time-travel
  * coordinates for the CDC offsets and `table_changes`), id (the
  * `VERSION AS OF` coordinate), timestamp, user, and message. Metadata
  * only — O(#commits) driver-side rows, no file I/O. */
final case class GraftDescribeHistoryCommand(parts: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("commit_index", IntegerType, nullable = false)(),
    AttributeReference("commit_id", StringType, nullable = false)(),
    AttributeReference("timestamp", StringType, nullable = false)(),
    AttributeReference("user_id", StringType, nullable = false)(),
    AttributeReference("message", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val updates = binding.log.updates(defn.name) // newest first
    val n = updates.size
    updates.zipWithIndex.map { case (u, i) =>
      Row(n - i, u.id.id, u.timestamp.toString, u.userId.value, u.message.content)
    }
  }
}

/** `RESTORE TABLE t TO VERSION AS OF '<ref-or-commit-id>'` (or
  * `TO TIMESTAMP AS OF '<instant>'`) — the SQL spelling of the rollback
  * the Scala API has always had ([[graft.core.VersionedMetastore.checkout]],
  * q26): resolve the target (ref names win over raw commit ids, the
  * `VERSION AS OF` read contract; timestamps resolve to the LAST commit at
  * or before the instant, q53's rule), then checkout — an atomic pointer
  * swap recorded as one more history entry, so a restore is itself
  * time-travelable and un-restorable. Data files are untouched: the
  * restored state serves its original immutable version dirs (vacuum
  * permitting — a vacuumed-away state refuses at read, not silently).
  * Checkout's staged-commit guard holds here too: restoring INTO an
  * unpublished WAP staging chain refuses loudly (publish is the only gate
  * that attaches staged commits). */
final case class GraftRestoreCommand(
    parts: Seq[String], target: String, byTimestamp: Boolean) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to", StringType, nullable = false)(),
    AttributeReference("commit_index", IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val resolved: graft.core.TableVersions.CommitId =
      if (byTimestamp) {
        val asOf =
          try java.time.Instant.parse(target)
          catch {
            case _: java.time.format.DateTimeParseException =>
              // the SQL-ish rendering: 'yyyy-MM-dd HH:mm:ss[.S]' read as UTC
              java.time.LocalDateTime
                .parse(target.trim.replace(' ', 'T'))
                .toInstant(java.time.ZoneOffset.UTC)
          }
        VersionedReader(session, binding.log).commitAtOrBefore(defn, asOf)
      } else
        GraftMaintenanceSql.resolveVersionTarget(binding.log, defn.name, target)
    GraftV2Table.metastoreFor(binding, defn).checkout(defn.name, resolved)
    // report the DESCRIBE HISTORY coordinate of the restored-to commit
    // (indices count from the log's tail, so the entry the checkout just
    // appended doesn't shift it)
    val updates = binding.log.updates(defn.name)
    val idx = updates.size - updates.indexWhere(_.id == resolved)
    Seq(Row(resolved.id, idx))
  }
}

/** `VACUUM t [RETAIN n COMMITS | RETAIN n HOURS] [GRACE n MINUTES]` —
  * storage GC through [[Vacuum.vacuum]]; driver-side metadata work only.
  * The HOURS spelling keeps the latest commit plus every commit recorded
  * within the window ([[Vacuum.vacuum]]'s `retainMs`). */
final case class GraftVacuumCommand(
    parts: Seq[String],
    keepLast: Option[Int],
    retainHours: Option[Long],
    graceMinutes: Option[Long],
    dryRun: Boolean = false) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("examined", IntegerType, nullable = false)(),
    AttributeReference("deleted", IntegerType, nullable = false)(),
    AttributeReference("failed", IntegerType, nullable = false)(),
    AttributeReference("dry_run", org.apache.spark.sql.types.BooleanType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    // statement arguments win; otherwise the TABLE's declared retention
    // (TBLPROPERTIES graft.vacuum.*) fills in before the built-in default
    def prop(key: String): Option[String] =
      TableProperties.get(session, binding.log, defn, key)
    val effRetainHours =
      retainHours.orElse(
        if (keepLast.isDefined) None
        else prop("graft.vacuum.retainHours").map(_.toLong))
    val report = Vacuum.vacuum(
      defn, binding.log, session.sessionState.newHadoopConf(),
      // wall-clock retention keeps only the latest commit by count — the
      // window itself decides what else survives
      keepLast = keepLast.orElse(
        if (effRetainHours.isDefined) None
        else prop("graft.vacuum.retainCommits").map(_.toInt))
        .getOrElse(if (effRetainHours.isDefined) 1 else 3),
      graceMs = graceMinutes.orElse(prop("graft.vacuum.graceMinutes").map(_.toLong))
        .map(_ * 60000L).getOrElse(Vacuum.DefaultGraceMs),
      retainMs = effRetainHours.map(_ * 3600000L),
      dryRun = dryRun,
      // lets the version-dir walk distribute when the fold is large
      spark = Some(session))
    Seq(Row(report.examined, report.deleted.size, report.failed.size, report.dryRun))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` — the SQL spelling of
  * the [[Constraints]] write-path invariants (Delta parity): validates
  * EXISTING rows first (a constraint is never born violated), records the
  * constraint in table metadata + one audit commit, and every subsequent
  * versioned write (Scala or SQL) enforces it inside its own staging
  * pass. */
final case class GraftAddConstraintCommand(
    parts: Seq[String], name: String, expr: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("constraint", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    Constraints.add(session, ctx, defn, Constraints.check(name, expr), UserId("sql"))
    Seq(Row(name, "added"))
  }
}

/** `ALTER TABLE t DROP CONSTRAINT name` — removes the invariant (a
  * missing name refuses loudly; a silent typo-drop would leave the caller
  * believing enforcement stopped). */
final case class GraftDropConstraintCommand(
    parts: Seq[String], name: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("constraint", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    Constraints.drop(session, ctx, defn, name, UserId("sql"))
    Seq(Row(name, "dropped"))
  }
}

/** `OPTIMIZE t AUTO [MIN n FILES]` — small-file-pressure-driven
  * compaction ([[Compaction.autoCompact]]): only partitions whose current
  * version holds ≥ n data files rewrite; below threshold the statement is
  * a clean no-op (no commit). Detection is driver-side metadata listing,
  * the graft_files bound. */
final case class GraftAutoOptimizeCommand(
    parts: Seq[String], minFiles: Option[Int]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("compacted_partitions", IntegerType, nullable = false)(),
    AttributeReference("compacted", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    // a bare `OPTIMIZE t AUTO` uses the table's declared threshold
    // (TBLPROPERTIES graft.autoOptimize.minFiles); MIN n FILES wins
    val report = Compaction.autoCompact(
      session, ctx, defn, UserId("sql"),
      minFiles = minFiles.getOrElse(TableProperties.effectiveInt(
        session, binding.log, defn, TableProperties.AutoOptimizeMinFiles, 4)))
    Seq(Row(
      report.partitions.size,
      if (report.snapshot) "snapshot"
      else if (report.partitions.nonEmpty) "partitions" else "nothing"))
  }
}

/** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF '<ref-or-id>']` —
  * the SQL spelling of [[ShallowClone.clone]]: a zero-copy fork whose
  * first commit references the source's immutable version dirs
  * (O(#partitions) metadata, no data movement at any table size). The
  * clone registers in the same catalog and is immediately readable;
  * `VERSION AS OF` resolves ref names first, then raw commit ids — the
  * standard read contract. */
final case class GraftShallowCloneCommand(
    dstParts: Seq[String], srcParts: Seq[String], asOf: Option[String])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("cloned", StringType, nullable = false)(),
    AttributeReference("from_commit", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, srcDefn) = GraftMaintenanceSql.resolve(session, srcParts)
    val Seq(cat, db, t) = dstParts
    val dstName = TableName(db, t)
    require(GraftTableCatalog.lookup(cat, dstName).isEmpty,
      s"cannot clone onto existing table ${dstParts.mkString(".")}")
    val at = asOf.map(a =>
      GraftMaintenanceSql.resolveVersionTarget(binding.log, srcDefn.name, a))
      .getOrElse(binding.log.currentCommit(srcDefn.name))
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, srcDefn))
    val dstDefn = ShallowClone.clone(session, ctx, srcDefn, dstName, UserId("sql"), Some(at))
    // carry the source's DECLARED schema (evolution lives there — a fresh
    // file inference could sample a pre-evolution footer and serve the
    // clone narrow); None when the source itself had none (infer as
    // before). An AS OF clone declares what a `VERSION AS OF` load of the
    // source would: the current declaration overlaid with the addressed
    // commit's recorded struct shapes / widths / column ORDER — same
    // posture as the deep clone's registration.
    val registered = GraftTableCatalog.registeredSchema(cat, srcDefn.name)
    val schema =
      if (asOf.isEmpty) registered
      else SchemaStates.schemaFor(session, binding.log, srcDefn, registered, at)
    GraftTableCatalog.register(cat, dstDefn, schema)
    Seq(Row(dstParts.mkString("."), at.id))
  }
}

/** `CREATE TABLE dst DEEP CLONE src [VERSION AS OF '<x>'] [LOCATION '<p>']`
  * — the SQL spelling of [[DeepClone.clone]]: an independent physical copy
  * of the cloned state's RESOLVED rows plus the source's declarations, at
  * the clone's own location (default: a `_deep_<name>` sibling of the
  * source's). No linkage tags — either side vacuums freely afterwards. */
final case class GraftDeepCloneCommand(
    dstParts: Seq[String],
    srcParts: Seq[String],
    asOf: Option[String],
    location: Option[String])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("cloned", StringType, nullable = false)(),
    AttributeReference("from_commit", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, srcDefn) = GraftMaintenanceSql.resolve(session, srcParts)
    val Seq(cat, db, t) = dstParts
    val dstName = TableName(db, t)
    require(GraftTableCatalog.lookup(cat, dstName).isEmpty,
      s"cannot clone onto existing table ${dstParts.mkString(".")}")
    val at = asOf.map(a =>
      GraftMaintenanceSql.resolveVersionTarget(binding.log, srcDefn.name, a))
      .getOrElse(binding.log.currentCommit(srcDefn.name))
    val dstLoc = location.map { loc =>
      val raw = new java.net.URI(loc)
      if (raw.getScheme != null) raw
      else java.nio.file.Paths.get(loc).toAbsolutePath.toUri
    }.getOrElse(new java.net.URI(
      Partition.normalizedDir(srcDefn.location).toString.stripSuffix("/") +
        s"_deep_$t/"))
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, srcDefn))
    val dstDefn = DeepClone.clone(
      session, ctx, srcDefn, dstName, dstLoc, UserId("sql"), Some(at))
    // a HEAD clone carries the source's declared schema (evolution lives
    // there); an AS OF clone carries what a `VERSION AS OF` load would
    // DECLARE at the cloned commit — the current declaration overlaid
    // with the addressed commit's recorded struct shapes/widths
    // (SchemaStates), so evolved fields the copy materialized as typed
    // NULLs survive inference and nested shapes travel; top-level adds
    // stay declared per the long-pinned q62 time-travel contract (they
    // read as typed NULLs in the clone, same as a time-traveled read)
    val schema =
      if (asOf.isEmpty) GraftTableCatalog.registeredSchema(cat, srcDefn.name)
      else SchemaStates.schemaFor(
        session, binding.log, srcDefn,
        GraftTableCatalog.registeredSchema(cat, srcDefn.name), at)
    GraftTableCatalog.register(cat, dstDefn, schema)
    Seq(Row(dstParts.mkString("."), at.id, dstDefn.location.toString))
  }
}

/** `CONVERT TO GRAFT cat.db.t FROM '<path>' [PARTITIONED BY (c1, ...)]
  * [FORMAT parquet|orc] [DRY RUN]` — the SQL spelling of
  * [[ConvertToGraft.convert]]: adopt a pre-existing plain data directory
  * in place (files rename into one minted version label; no byte copy)
  * and register the result. DRY RUN reports the discovered
  * partition/file counts after the full pre-flight (layout + partition
  * values + format sniff) with nothing moved or registered. */
final case class GraftConvertCommand(
    parts: Seq[String],
    path: String,
    partitionCols: Seq[String],
    format: Option[String],
    dryRun: Boolean = false)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("converted", StringType, nullable = false)(),
    AttributeReference("partitions", IntegerType, nullable = false)(),
    AttributeReference("files", LongType, nullable = false)(),
    AttributeReference("dry_run", BooleanType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val Seq(cat, db, t) = parts
    val name = TableName(db, t)
    // touching the catalog first makes a conf-only (logDir) catalog
    // initialize its binding before we reach for it
    try session.sessionState.catalogManager.catalog(cat)
    catch { case _: Exception => () }
    require(GraftTableCatalog.lookup(cat, name).isEmpty,
      s"cannot CONVERT onto already-registered table ${parts.mkString(".")}")
    val binding = GraftTableCatalog.bindingFor(cat).getOrElse(
      sys.error(s"catalog '$cat' is not a bound graft catalog"))
    val uri = {
      val raw = new java.net.URI(path)
      if (raw.getScheme != null) raw
      else java.nio.file.Paths.get(path).toAbsolutePath.toUri
    }
    val fmt = format match {
      case Some("orc")            => FileFormat.Orc
      case None | Some("parquet") => FileFormat.Parquet
      case Some(other)            => sys.error(s"unsupported CONVERT format: $other")
    }
    val defn = TableDefinition(
      name, uri,
      if (partitionCols.isEmpty) PartitionSchema.snapshot
      else PartitionSchema(partitionCols.toList.map(PartitionColumn(_))),
      fmt)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    if (dryRun) {
      // full pre-flight (a doomed conversion refuses here with the same
      // errors the real run would raise), zero writes
      val p = ConvertToGraft.preview(session, ctx, defn)
      return Seq(Row(parts.mkString("."), p.partitions, p.files, true))
    }
    val nFiles = ConvertToGraft.convert(session, ctx, defn, UserId("sql"))
    GraftTableCatalog.register(cat, defn)
    val nParts = binding.log.currentVersion(name) match {
      case PartitionedTableVersion(pvs) => pvs.size
      case _                            => 0
    }
    Seq(Row(parts.mkString("."), nParts, nFiles, false))
  }
}

/** `SHOW CREATE TABLE cat.db.t` — the full ROUND-TRIPPABLE DDL for a graft
  * table, as a script: the CREATE TABLE statement (schema, USING format,
  * PARTITIONED BY, LOCATION, TBLPROPERTIES) followed by one ALTER
  * statement per declaration, in their own declared spellings —
  * `ADD CONSTRAINT nm CHECK (...)` (NOT NULL constraints emit as the
  * equivalent `CHECK (c IS NOT NULL)`), `ADD COLUMN c t GENERATED ALWAYS
  * AS (expr)`, `ADD COLUMN c t GENERATED ALWAYS AS IDENTITY`,
  * `SET ROW TRACKING`, `ALTER COLUMN c SET DEFAULT expr`. Generated and
  * identity columns are omitted from the CREATE column list (their ALTER
  * statements materialize them), so running the script verbatim — with
  * LOCATION re-pointed — reproduces an equivalent table on another
  * catalog. Statements separate with `;`. */
final case class GraftShowCreateTableCommand(
    parts: Seq[String], asOf: Option[String] = None)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("createtab_stmt", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val Seq(cat, db, t) = parts
    try session.sessionState.catalogManager.catalog(cat)
    catch { case _: Exception => () }
    val name = TableName(db, t)
    val (binding, defn) = GraftTableCatalog.lookup(cat, name).getOrElse(
      sys.error(s"SHOW CREATE TABLE: ${parts.mkString(".")} is not a graft table"))
    val full = parts.mkString(".")
    // the DECLARED schema slot keeps CREATE-time nullability; the served
    // relation (everything nullable — file-scan posture) is the fallback.
    // `VERSION AS OF` is the AUDIT posture: the schema resolves AT the
    // addressed commit — column-mapping renames/drops and type widths of
    // that state, nested shapes via the mapped read — so a pre-rename/
    // pre-widen declaration can be reproduced, not just the current one.
    // Sidecar DECLARATIONS (constraints, generated rules, defaults,
    // properties) have no per-commit history and emit their CURRENT set.
    val schema = asOf match {
      case Some(a) =>
        val at = GraftMaintenanceSql.resolveVersionTarget(binding.log, defn.name, a)
        val mapped = ColumnMapping.read(session, binding.log, defn, Some(at)).schema
        // a recorded schema state at the addressed commit also carries the
        // COLUMN ORDER of that state (the q111 reorder contract) — overlay
        // it; the subset guard inside overlay keeps mapped names governing
        // when a rename/drop intervened
        SchemaStates.at(session, binding.log, defn, at)
          .map(SchemaStates.overlay(mapped, _)).getOrElse(mapped)
      case None =>
        binding.tables.get(defn.name.fullyQualifiedName)
          .flatMap(_._2).getOrElse(session.table(full).schema)
    }
    val generated = GeneratedColumns.list(session, binding.log, defn)
    val identity = IdentityColumns.declared(session, binding.log, defn)
    val defaults = ColumnDefaults.list(session, binding.log, defn)
    val constraints = Constraints.list(session, binding.log, defn)
    val props = TableProperties.list(session, binding.log, defn)

    def esc(s: String): String = s.replace("'", "''")
    // identity columns are engine-stamped BIGINTs by construction, so the
    // BIGINT fallback is exact for them; generated columns must NOT guess
    // — a rule declared through the Scala API before the first write has
    // no recorded type and no materialized column, so its type derives
    // from ANALYZING the generation expression against the base columns
    def typeOf(c: String): String = schema.fields
      .find(_.name.equalsIgnoreCase(c)).map(_.dataType.sql).getOrElse("BIGINT")
    val omitted = (generated.map(_.column.toLowerCase) ++
      identity.map(_.toLowerCase)).toSet
    def analyzedTypeOf(e: String): Option[String] =
      try {
        val base = org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(f => omitted.contains(f.name.toLowerCase)))
        Some(session
          .createDataFrame(new java.util.ArrayList[Row](), base)
          .select(org.apache.spark.sql.functions.expr(e))
          .schema.head.dataType.sql)
      } catch { case scala.util.control.NonFatal(_) => None }
    def generatedTypeOf(g: GeneratedColumns.GeneratedColumn): String =
      g.tpe
        .orElse(schema.fields.find(_.name.equalsIgnoreCase(g.column)).map(_.dataType.sql))
        .orElse(analyzedTypeOf(g.expr))
        .getOrElse(sys.error(
          s"SHOW CREATE TABLE: cannot determine the type of generated column " +
            s"${g.column} — no declared type, no materialized data, and its " +
            s"expression (${g.expr}) does not analyze against the table's " +
            "columns; re-declare the rule with an explicit type"))
    // declared column COMMENTs replay in the CREATE list (top-level;
    // nested-field comments stay metadata-only — CREATE cannot spell them)
    val comments = Comments.list(session, binding.log, defn)
    def commentOf(c: String): String =
      comments.get(c).orElse(
        comments.find(_._1.equalsIgnoreCase(c)).map(_._2))
        .fold("")(v => s" COMMENT '${esc(v)}'")
    val colLines = schema.fields.toSeq
      .filterNot(f => omitted.contains(f.name.toLowerCase))
      .map(f => s"  `${f.name}` ${f.dataType.sql}" +
        s"${if (f.nullable) "" else " NOT NULL"}${commentOf(f.name)}")

    val create = new StringBuilder
    create ++= s"CREATE TABLE $full (\n${colLines.mkString(",\n")})\n"
    create ++= s"USING ${defn.format.name}"
    if (!defn.isSnapshot)
      create ++= "\nPARTITIONED BY (" +
        defn.partitionSchema.columns.map(c => s"`${c.name}`").mkString(", ") + ")"
    create ++= s"\nLOCATION '${esc(defn.location.toString)}'"
    if (props.nonEmpty)
      create ++= "\nTBLPROPERTIES (\n" + props.toSeq.sortBy(_._1).map {
        case (k, v) => s"  '${esc(k)}' = '${esc(v)}'"
      }.mkString(",\n") + ")"

    val alters = scala.collection.mutable.ListBuffer.empty[String]
    // row tracking / identity must land before the first data commit, so
    // they lead the ALTER block
    identity.foreach { c =>
      if (c == RowTracking.RowIdCol) alters += s"ALTER TABLE $full SET ROW TRACKING"
      else alters +=
        s"ALTER TABLE $full ADD COLUMN $c ${typeOf(c)} GENERATED ALWAYS AS IDENTITY"
    }
    generated.foreach(g => alters +=
      s"ALTER TABLE $full ADD COLUMN ${g.column} " +
        s"${generatedTypeOf(g)} GENERATED ALWAYS AS (${g.expr})")
    defaults.foreach(d => alters +=
      s"ALTER TABLE $full ALTER COLUMN ${d.column} SET DEFAULT ${d.expr}")
    constraints.foreach {
      case Constraints.Constraint(n, "notnull", c) =>
        alters += s"ALTER TABLE $full ADD CONSTRAINT $n CHECK ($c IS NOT NULL)"
      case Constraints.Constraint(n, _, expr) =>
        alters += s"ALTER TABLE $full ADD CONSTRAINT $n CHECK ($expr)"
    }
    Seq(Row((create.toString +: alters.toList).mkString(";\n")))
  }
}

/** `CREATE MATERIALIZED VIEW mv [LOCATION '<path>'] AS SELECT ...` — the
  * SELECT is ANALYZED (Catalyst, not regex) and must be the
  * incrementally-maintainable shape ([[MaterializedView]]): one graft
  * source table, optional deterministic WHERE, GROUP BY plain columns,
  * count/sum aggregates with at least one `count(*)`. The MV is built
  * fully once and registered as an ordinary versioned snapshot table;
  * LOCATION defaults to a `_mv_<name>` sibling of the source. */
final case class GraftCreateMvCommand(
    mvParts: Seq[String], location: Option[String], selectSql: String)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("created", StringType, nullable = false)(),
    AttributeReference("anchor", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val Seq(cat, db, t) = mvParts
    val mvName = TableName(db, t)
    require(GraftTableCatalog.lookup(cat, mvName).isEmpty,
      s"table ${mvParts.mkString(".")} already exists")
    // location: explicit, or derived next to the source table's dir once
    // the SELECT names it — derive lazily inside create via a sibling URI
    val loc = location.map(java.net.URI.create).getOrElse {
      val parsed = session.sessionState.sqlParser.parsePlan(selectSql)
      val src = parsed.collectFirst {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
            if r.multipartIdentifier.size == 3 =>
          GraftTableCatalog.lookup(
            r.multipartIdentifier.head,
            TableName(r.multipartIdentifier(1), r.multipartIdentifier(2)))
            .map(_._2.location)
      }.flatten.getOrElse(sys.error("MV SELECT names no registered graft table"))
      java.net.URI.create(
        graft.core.Partition.normalizedDir(src).toString.stripSuffix("/") + s"_mv_$t/")
    }
    val defn = MaterializedView.create(session, cat, mvName, loc, selectSql, UserId("sql"))
    val anchor = MaterializedView.currentAnchor(
      GraftMaintenanceSql.resolve(session, mvParts)._1.log, defn.name)
    Seq(Row(mvParts.mkString("."), anchor.map(_.id).getOrElse("")))
  }
}

/** `REFRESH MATERIALIZED VIEW mv [FULL]` — advance the MV to the source's
  * head: incremental (signed deltas off the change feed, O(changed rows))
  * unless FULL forces a rebuild (the escape hatch when a source
  * checkpoint folded the anchor away). One atomic MV commit carrying the
  * new anchor; a no-op when the anchor already IS the head. */
final case class GraftRefreshMvCommand(mvParts: Seq[String], full: Boolean)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("mode", StringType, nullable = false)(),
    AttributeReference("from_commit", StringType, nullable = false)(),
    AttributeReference("to_commit", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (_, mvDefn) = GraftMaintenanceSql.resolve(session, mvParts)
    val Seq(cat, _, _) = mvParts
    val (from, to, mode) =
      MaterializedView.refresh(session, cat, mvDefn, UserId("sql"), full = full)
    Seq(Row(mode, from.id, to.id))
  }
}

/** `ALTER TABLE t ADD COLUMN c <type> GENERATED ALWAYS AS (expr)` — the
  * Delta generated-column spelling: records the generation rule
  * ([[GeneratedColumns.add]] — write-path derivation when absent,
  * row-level validation when supplied); the column itself materializes on
  * the next write and reads through additive schema evolution. */
final case class GraftAddGeneratedColumnCommand(
    parts: Seq[String], column: String, genExpr: String,
    colType: Option[String] = None) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    // rule first (it validates against the REAL file contents — after a
    // schema widen, pre-declaration rows would read the column as NULL
    // and falsely disagree with the rule)…
    GeneratedColumns.add(
      session, ctx, defn,
      GeneratedColumns.GeneratedColumn(column, genExpr, tpe = colType), UserId("sql"))
    // …then widen the declared schema (the identity-column discipline) so
    // the relation serves the column — pre-declaration rows as typed NULL
    // — and the analyzer resolves it; skipped when the rule covers a
    // column the data already carries
    colType.foreach { t =>
      if (!session.table(parts.mkString("."))
          .schema.fieldNames.exists(_.equalsIgnoreCase(column))) {
        session.sql(
          s"ALTER TABLE ${parts.mkString(".")} ADD COLUMNS ($column $t)").collect()
        ()
      }
    }
    Seq(Row(column, s"generated always as ($genExpr)"))
  }
}

/** `ALTER TABLE t ALTER COLUMN c SET DEFAULT expr` / `DROP DEFAULT` — the
  * SQL-standard column default ([[ColumnDefaults]]): writes that omit the
  * column fill it with the declared constant (SQL `INSERT` column lists
  * resolve through the analyzer via the schema's CURRENT_DEFAULT
  * metadata); supplied values — NULLs included — pass verbatim, and
  * existing rows are never rewritten. */
final case class GraftSetDefaultCommand(
    parts: Seq[String], column: String, defaultExpr: Option[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    defaultExpr match {
      case Some(e) =>
        ColumnDefaults.set(session, ctx, defn, column, e, UserId("sql"))
        Seq(Row(column, s"default $e"))
      case None =>
        ColumnDefaults.drop(session, ctx, defn, column, UserId("sql"))
        Seq(Row(column, "default dropped"))
    }
  }
}

/** Branch / tag DDL over the WAP ref machinery (q65's Scala surface, the
  * Iceberg SQL spellings):
  *
  *  - `ALTER TABLE t CREATE BRANCH b [AS OF VERSION '<ref-or-commit>']` —
  *    a movable ref at the current (or named) commit; writes land on it
  *    via `versionedInsertIntoBranch`, audits read `VERSION AS OF 'b'`.
  *  - `ALTER TABLE t CREATE TAG g [AS OF VERSION …]` — immutable name.
  *  - `ALTER TABLE t DROP BRANCH|TAG nm` — the commits it named stay in
  *    history (staged ones become vacuum-reclaimable).
  *  - `ALTER TABLE t PUBLISH BRANCH b` — the WAP endgame: atomically
  *    attach the branch's staged chain to the main history, move the
  *    current pointer, sync the metastore.
  *
  * `AS OF VERSION` resolves a REF NAME first, then a raw commit id (the
  * `VERSION AS OF` read contract). */
final case class GraftRefCommand(
    parts: Seq[String], name: String, isTag: Boolean, action: String,
    asOf: Option[String] = None) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("ref", StringType, nullable = false)(),
    AttributeReference("commit", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val log = binding.log
    def resolve(target: String): graft.core.TableVersions.CommitId =
      GraftMaintenanceSql.resolveVersionTarget(log, defn.name, target)
    action match {
      case "create" =>
        val at = asOf.map(resolve).getOrElse(log.currentCommit(defn.name))
        log.setRef(defn.name, name, at, isTag = isTag)
        Seq(Row(name, at.id, if (isTag) "tag created" else "branch created"))
      case "drop" =>
        // refuse a kind mismatch loudly (DROP TAG on a branch would
        // silently delete audit-holding state the user didn't name)
        log.refs(defn.name).get(name).foreach { e =>
          require(e.isTag == isTag,
            s"'$name' is a ${if (e.isTag) "tag" else "branch"} — use DROP " +
              s"${if (e.isTag) "TAG" else "BRANCH"}")
        }
        log.deleteRef(defn.name, name)
        Seq(Row(name, "", if (isTag) "tag dropped" else "branch dropped"))
      case "publish" =>
        val head = log.refs(defn.name).get(name)
          .getOrElse(sys.error(s"no branch '$name' on ${defn.name.fullyQualifiedName}"))
        require(!head.isTag, s"'$name' is a tag — only branches publish")
        GraftV2Table.metastoreFor(binding, defn).publish(defn.name, head.id)
        Seq(Row(name, head.id.id, "published"))
    }
  }
}

/** `GENERATE symlink_format_manifest FOR TABLE t` ([[SymlinkManifest]]):
  * writes the Presto/Trino/Athena-readable file-list manifest of the
  * CURRENT version. Returns one row per partition with its file count. */
final case class GraftGenerateManifestCommand(parts: Seq[String])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)(),
    AttributeReference("n_files", IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    SymlinkManifest.generate(session, binding.log, defn)
      .map { case (p, n) => Row(p, n) }
  }
}

/** `INSERT INTO t REPLACE WHERE <pred> <SELECT …>` — transactional
  * selective overwrite ([[ReplaceWhere]]): one commit that drops every
  * row matching the predicate and lands the statement's rows; incoming
  * rows outside the predicate refuse. A partition-scoped predicate takes
  * the zero-read dynamic-overwrite path. */
final case class GraftReplaceWhereCommand(
    parts: Seq[String], predicateSql: String, sourceSql: String)
  extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] =
    // SQL-originated: NULL slots in the statement's rows read as
    // analyzer-fill for omitted columns (generated columns derive)
    GeneratedColumns.withSqlNullFill {
      val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
      ReplaceWhere.run(
        session, binding, defn, predicateSql, session.sql(sourceSql), UserId("sql"))
      Seq.empty
    }
}

/** `ALTER TABLE t ADD COLUMN c BIGINT GENERATED ALWAYS AS IDENTITY` — the
  * Delta identity-column spelling: evolves the registered schema with the
  * (nullable, engine-owned) id column, then records the identity
  * declaration ([[IdentityColumns.declare]]). Every subsequent SQL INSERT
  * that omits the column (or lists other columns, leaving it NULL-filled)
  * gets unique, batch-monotone ids stamped by the engine; supplying
  * values rejects. */
final case class GraftAddIdentityColumnCommand(
    parts: Seq[String], column: String, dtype: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    require(Set("bigint", "long")(dtype.toLowerCase),
      s"identity columns are BIGINT (ids are 64-bit), got $dtype")
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    // widen the registered schema first so the analyzer accepts INSERTs
    // that list only the user columns (stock ADD COLUMNS path: schema
    // evolution + its own audit commit)
    session.sql(
      s"ALTER TABLE ${parts.mkString(".")} ADD COLUMNS ($column BIGINT)").collect()
    IdentityColumns.declare(session, ctx, defn, column, UserId("sql"))
    Seq(Row(column, "generated always as identity"))
  }
}

/** `ALTER TABLE t SET PARTITIONED BY (c1, c2)` — partition-scheme
  * evolution ([[PartitionEvolution.evolve]]): one atomic boundary rewrite
  * re-partitions the current state under the new columns; time travel
  * reads each era under its own layout; the catalog registration flips to
  * the new scheme so subsequent SQL writes carry it. */
final case class GraftSetPartitionedCommand(
    parts: Seq[String], columns: Seq[String],
    metadataOnly: Boolean = false) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("old_scheme", StringType, nullable = false)(),
    AttributeReference("new_scheme", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, registered) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, registered))
    // resolve the ERA-CORRECT current definition (the registration may be
    // stale after a previous evolution driven programmatically)
    val defn = PartitionEvolution.definitionAt(
      session, binding.log, registered)
    val oldScheme = defn.partitionSchema.columns.map(_.name).mkString(", ")
    val target =
      graft.core.PartitionSchema(columns.map(graft.core.PartitionColumn(_)).toList)
    // METADATA ONLY: the O(metadata) boundary — the fold keeps both eras'
    // dirs until PartitionEvolution.consolidateEras (reads union the eras)
    val evolved =
      if (metadataOnly)
        PartitionEvolution.evolveMetadataOnly(session, ctx, defn, target, UserId("sql"))
      else
        PartitionEvolution.evolve(session, ctx, defn, target, UserId("sql"))
    GraftTableCatalog.register(
      parts.head, evolved,
      GraftTableCatalog.registeredSchema(
        parts.head, evolved.name))
    Seq(Row(oldScheme, columns.mkString(", ")))
  }
}

/** `ALTER TABLE t CONSOLIDATE PARTITION ERAS [FILES n PER PARTITION]` —
  * the SQL spelling of [[PartitionEvolution.consolidateEras]]: physically
  * unify a mixed fold (left by `SET PARTITIONED BY … METADATA ONLY`)
  * under the current scheme. One shuffle keyed by the current partition
  * columns, whole-table-scoped rebase commit; no-op on a uniform fold.
  * Resolves the era-correct definition itself, so it works whether the
  * boundary was driven from SQL or the Scala API. */
final case class GraftConsolidateErasCommand(
    parts: Seq[String], filesPerPartition: Int) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("consolidated", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, registered) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, registered))
    val defn = PartitionEvolution.definitionAt(session, binding.log, registered)
    val before = PartitionEvolution.eraSignatures(
      binding.log.currentVersion(defn.name)).size
    PartitionEvolution.consolidateEras(
      session, ctx, defn, UserId("sql"), filesPerPartition)
    // the registration flips to the era-correct scheme (it may be stale
    // after an API-driven metadata-only boundary)
    GraftTableCatalog.register(
      parts.head, defn,
      GraftTableCatalog.registeredSchema(parts.head, defn.name))
    Seq(Row(if (before > 1) "consolidated" else "noop"))
  }
}

/** `ALTER TABLE t SQUASH SIDECARS` — the merge-on-read debt fold without
  * a data rewrite: live deletion-vector sidecars collapse to ONE complete
  * pair set ([[DeletionVectors.squashSidecars]]) and live row-overlay
  * dirs to ONE complete dir ([[RowOverlay.squash]]), both re-anchored at
  * the current commit so reads open O(1) sidecar dirs again. Time travel
  * keeps resolving the old anchors; vacuum reclaims them once they age
  * out of retention. `OPTIMIZE` remains the rewrite that ABSORBS the
  * debt into data files; this is the cheaper between-rewrites fold. */
final case class GraftSquashSidecarsCommand(
    parts: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("squashed_vectors", org.apache.spark.sql.types.BooleanType, nullable = false)(),
    AttributeReference("squashed_overlays", org.apache.spark.sql.types.BooleanType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, registered) = GraftMaintenanceSql.resolve(session, parts)
    val defn = PartitionEvolution.definitionAt(session, binding.log, registered)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    val dv = DeletionVectors.squashSidecars(
      session, ctx, defn, UserId("sql"), UpdateMessage("SQUASH SIDECARS: deletion vectors (SQL)"))
    val ov = RowOverlay.squash(
      session, ctx, defn, UserId("sql"), UpdateMessage("SQUASH SIDECARS: row overlay (SQL)"))
    Seq(Row(dv, ov))
  }
}

/** `ALTER TABLE t SET ROW TRACKING` — declare the engine-stamped stable
  * row id on an EMPTY table ([[RowTracking.enable]]): keyless
  * change-feed update classification from then on; the id is hidden
  * from the SQL schema and stamped by every INSERT. */
final case class GraftSetRowTrackingCommand(
    parts: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("tracking_column", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    RowTracking.enable(session, ctx, defn, UserId("sql"))
    Seq(Row(RowTracking.RowIdCol))
  }
}

/** `COPY INTO t FROM '<dir>' FILEFORMAT = <fmt> [PATTERN = '<glob>']
  * [FORMAT_OPTIONS (…)]` — idempotent bulk ingestion
  * ([[CopyInto.ingest]]): every source file loads exactly once across
  * arbitrary retries; the load history rides IN the ingest commits'
  * messages, so data and bookkeeping are one atomic record. CSV/JSON
  * ingests pin the table's REGISTERED schema (falling back to its current
  * data's schema) — never per-batch inference. */
final case class GraftCopyIntoCommand(
    parts: Seq[String],
    srcDir: String,
    format: String,
    pattern: Option[String] = None,
    options: Map[String, String] = Map.empty) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("ingested_files", IntegerType, nullable = false)(),
    AttributeReference("skipped_files", IntegerType, nullable = false)(),
    AttributeReference("rows", org.apache.spark.sql.types.LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    val registered = GraftTableCatalog.registeredSchema(parts.head, defn.name)
    val r = CopyInto.ingest(session, ctx, defn, srcDir, format, UserId("sql"),
      schema = registered, pattern = pattern, options = options,
      // autoMergeSchema widenings land in the declared-schema slot, so
      // every subsequent read projects the new columns (q62 posture)
      onSchemaWiden = widened =>
        binding.tables.put(defn.name.fullyQualifiedName, (defn, Some(widened))))
    Seq(Row(r.ingestedFiles.size, r.skippedFiles.size, r.rows))
  }
}

/** `DESCRIBE DETAIL t` — the one-row table summary (Delta spelling):
  * format, location, partitioning, current state's file inventory
  * (count + bytes, the same listing bound as `graft_files`), commit-log
  * depth, and which metadata features are live (constraints, generated
  * columns, column mapping, clone links). Metadata + directory listing
  * only — no data pass. */
final case class GraftDescribeDetailCommand(parts: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("num_partitions", IntegerType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("size_bytes", org.apache.spark.sql.types.LongType, nullable = false)(),
    AttributeReference("num_commits", IntegerType, nullable = false)(),
    AttributeReference("current_commit", StringType, nullable = false)(),
    AttributeReference("num_constraints", IntegerType, nullable = false)(),
    AttributeReference("num_generated_columns", IntegerType, nullable = false)(),
    AttributeReference("column_mapping", org.apache.spark.sql.types.BooleanType, nullable = false)(),
    AttributeReference("clone_link", org.apache.spark.sql.types.BooleanType, nullable = false)(),
    // round 16: the operator-diagnosis fields — the ERA-CORRECT scheme
    // (the declared partition_columns go stale after an evolution), how
    // many scheme eras the CURRENT fold mixes (2+ = rewrites refuse until
    // CONSOLIDATE PARTITION ERAS), the tracking/identity column if any,
    // and whether live deletion-vector sidecars apply to current reads
    AttributeReference("effective_partition_columns", StringType, nullable = false)(),
    AttributeReference("partition_scheme_eras", IntegerType, nullable = false)(),
    AttributeReference("row_tracking", StringType, nullable = false)(),
    AttributeReference("live_deletion_vectors", org.apache.spark.sql.types.BooleanType, nullable = false)(),
    AttributeReference("live_row_overlays", org.apache.spark.sql.types.IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    import graft.core.{PartitionedTableVersion, SnapshotTableVersion, Partition, Version}
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val state = binding.log.currentVersion(defn.name)
    val dirs: List[String] = state match {
      case SnapshotTableVersion(v) =>
        if (v == Version.Unversioned) Nil
        else List(Partition.normalizedDir(defn.location).toString + v.label)
      case PartitionedTableVersion(pvs) =>
        pvs.toList.map { case (p, v) => SparkPaths.dirFor(defn.location, p, v) }
    }
    // the inventory distributes: one Spark job lists the dirs in parallel
    // and only (count, bytes) per slice return to the driver — at 10 000
    // small-file partitions the summary itself stays O(#partitions)
    val (nFiles, totalBytes) =
      if (dirs.isEmpty) (0, 0L)
      else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          session.sessionState.newHadoopConf())
        val slices = math.max(1,
          math.min(dirs.size, session.sparkContext.defaultParallelism))
        val (n, b) = session.sparkContext.parallelize(dirs, slices).map { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(conf.value)
          if (!fs.exists(p)) (0, 0L)
          else {
            val sts = fs.listStatus(p).filter(s => s.isFile && {
              val n = s.getPath.getName
              !n.startsWith("_") && !n.startsWith(".")
            })
            (sts.length, sts.map(_.getLen).sum)
          }
        }.reduce((a, c) => (a._1 + c._1, a._2 + c._2))
        (n, b)
      }
    val nPartitions = state match {
      case PartitionedTableVersion(pvs) => pvs.size
      case _                            => 0
    }
    Seq(Row(
      defn.format.name,
      defn.location.toString,
      defn.partitionSchema.columns.map(_.name).mkString(","),
      nPartitions,
      nFiles,
      totalBytes,
      binding.log.updates(defn.name).size,
      binding.log.currentCommit(defn.name).id,
      Constraints.list(session, binding.log, defn).size,
      GeneratedColumns.list(session, binding.log, defn).size,
      ColumnMapping.hasMapping(session, binding.log, defn, None),
      ShallowClone.hasCloneLink(binding.log, defn.name),
      PartitionEvolution.schemeAt(session, binding.log, defn, None)
        .columns.map(_.name).mkString(","),
      math.max(1, PartitionEvolution.eraSignatures(state).size),
      RowTracking.trackingColumn(session, binding.log, defn).getOrElse(""),
      DeletionVectors.hasVectors(session, binding.log, defn, None),
      // contributing merge-on-read overlay dirs ([[RowOverlay]]) — when it
      // grows, OPTIMIZE (absorb) or RowOverlay.squash (fold) is due
      RowOverlay.contributions(session, binding.log, defn, None).size))
  }
}

/** Session-scoped staging buffer for SQL multi-table transactions
  * (`BEGIN GRAFT TRANSACTION` … `STAGE INSERT INTO` … `COMMIT GRAFT
  * TRANSACTION`): each staged write already ran its job (data as
  * never-referenced version dirs, the full pre-write pipeline applied);
  * COMMIT moves every staged pointer in ONE atomic step through
  * [[VersionContext.commitTransaction]] / `TableVersions.commitAll` —
  * the WAL-marker crash contract of the durable log. Keyed WEAKLY by
  * session, so an abandoned session's buffer is garbage, its dirs
  * orphans for vacuum (the no-cleanup posture every lost race shares). */
private[spark] object GraftTxn {
  final case class Staged(
      binding: GraftTableCatalog.Binding,
      ctx: VersionContext,
      commit: VersionContext.StagedCommit)
  private val buffers =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.ListBuffer[Staged]]()

  def begin(s: SparkSession): Unit = synchronized {
    require(!buffers.containsKey(s),
      "a graft transaction is already open on this session — COMMIT or ROLLBACK it first")
    buffers.put(s, scala.collection.mutable.ListBuffer.empty)
    ()
  }

  def stage(s: SparkSession, st: Staged): Int = synchronized {
    val b = buffers.get(s)
    require(b != null,
      "no open graft transaction — run BEGIN GRAFT TRANSACTION first " +
        "(a plain INSERT commits immediately)")
    // a later stage cannot see an earlier UNCOMMITTED stage's rows, so two
    // stages touching the same table state would silently drop one at the
    // commit (last AddVersion op wins) — refuse the overlap loudly
    def touched(c: VersionContext.StagedCommit): (String, Option[Set[graft.core.Partition]]) = {
      val parts = c.update.operations.collect {
        case graft.core.TableVersions.TableOperation.AddPartitionVersion(p, _) => p
      }.toSet
      val snapshot = c.update.operations.exists {
        case graft.core.TableVersions.TableOperation.AddTableVersion(_) => true
        case _ => false
      }
      (c.table.name.fullyQualifiedName, if (snapshot) None else Some(parts))
    }
    val (fqn, mine) = touched(st.commit)
    b.foreach { prev =>
      val (pFqn, theirs) = touched(prev.commit)
      if (pFqn == fqn) {
        val overlap = (mine, theirs) match {
          case (None, _) | (_, None) => true // snapshot stages always clash
          case (Some(a), Some(c))    => (a intersect c).nonEmpty
        }
        require(!overlap,
          s"transaction already staged a write to $fqn touching the same " +
            "partitions — fold both into one STAGE statement (a later stage " +
            "cannot see an earlier uncommitted one)")
      }
    }
    b += st
    b.size
  }

  def commit(s: SparkSession): Seq[String] = synchronized {
    val b = buffers.remove(s)
    require(b != null, "no open graft transaction to commit")
    val staged = b.toList
    require(staged.nonEmpty,
      "the open graft transaction staged nothing — nothing to commit")
    // one atomic commit point needs ONE log: every staged table must live
    // in the same commit log (same catalog binding family)
    val log = staged.head.ctx.metastore.tableVersions
    require(staged.forall(_.ctx.metastore.tableVersions eq log),
      "staged tables span different commit logs — a cross-log transaction " +
        "has no single atomic commit point")
    // the commit ctx's metastore must know EVERY staged table (the
    // per-table stage ctxs each register only their own)
    val ctx = staged.head.binding.vms.map(VersionContext(_)).getOrElse {
      val ms = new graft.core.InMemoryMetastore
      staged.foreach(st => ms.register(st.commit.table))
      VersionContext(graft.core.VersionedMetastore(log, ms))
    }
    VersionContext.commitTransaction(ctx, staged.map(_.commit))
    staged.map(_.commit.table.name.fullyQualifiedName)
  }

  def rollback(s: SparkSession): Int = synchronized {
    val b = buffers.remove(s)
    require(b != null, "no open graft transaction to roll back")
    b.size // staged dirs stay orphaned — vacuum's ordinary posture
  }
}

/** `BEGIN GRAFT TRANSACTION` — open the session's staging buffer. */
final case class GraftBeginTxnCommand() extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftTxn.begin(session)
    Seq.empty
  }
}

/** `STAGE INSERT INTO|OVERWRITE cat.db.t <query>` — run the write job NOW
  * through the ordinary pre-write pipeline (constraints, generated
  * columns, column mapping, identity stamping), land the data as
  * never-referenced version dirs, and defer the pointer move to
  * `COMMIT GRAFT TRANSACTION`. The two modes mirror plain INSERT:
  *
  *  - `INTO` APPENDS — touched partitions' current rows carry into the
  *    staged version (DV-aware, so the stage absorbs those partitions'
  *    vectors), untouched partitions never move; a snapshot table carries
  *    its whole state;
  *  - `OVERWRITE` is dynamic partition overwrite — the staged version
  *    holds exactly the statement's rows; written partitions replace,
  *    unwritten ones keep their pointers (a snapshot replaces wholesale —
  *    the multi-table summary-refresh shape).
  *
  * Staging the SAME table twice with overlapping partitions (or a
  * snapshot twice) refuses: the second stage cannot see the first's
  * uncommitted rows, so composing them would silently drop one. */
final case class GraftStageInsertCommand(
    parts: Seq[String], sourceSql: String, overwrite: Boolean)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("staged", IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    import graft.spark.VersionContext.DatasetVersionOps
    val (binding, defn) = GraftMaintenanceSql.resolve(session, parts)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
    val df0 = session.sql(sourceSql)
    // align by NAME to the declared schema (else the current contents'
    // logical shape) — the REPLACE WHERE alignment discipline
    lazy val current = ColumnMapping.read(session, binding.log, defn)
    val target = binding.tables.get(defn.name.fullyQualifiedName)
      .flatMap(_._2)
      .map(_.filterNot(_.name.equalsIgnoreCase(RowTracking.RowIdCol)))
      .orElse {
        if (current.columns.nonEmpty) Some(current.schema.fields.toSeq) else None
      }
    val df = target match {
      case Some(fields) =>
        df0.select(fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      case None => df0
    }
    // INTO appends: carry the touched partitions' current (DV-applied,
    // logical) rows into the staged rewrite; OVERWRITE stages the
    // statement's rows alone (partition replacement, stage-native)
    val toWrite =
      if (overwrite || current.columns.isEmpty) df
      else if (defn.isSnapshot)
        current.unionByName(df, allowMissingColumns = true)
      else {
        PartitionEvolution.requireUniformFold(
          binding.log, defn, "STAGE INSERT INTO")
        // the batch's partitions name the dirs to carry: a DV-aware,
        // overlay-aware read of exactly those
        VersionedScan(
          session, binding.log, defn,
          partitions = Some(VersionContext.partitionValues(df, defn.partitionSchema).toSet),
          names = VersionedScan.Names.AtState)
          .unionByName(df, allowMissingColumns = true)
      }
    val mode = if (overwrite) "OVERWRITE" else "INTO"
    val staged = toWrite.versionedStage(
      ctx, defn, UserId("sql"),
      UpdateMessage(s"STAGE INSERT $mode ${defn.name.fullyQualifiedName}"))
    val n = GraftTxn.stage(session, GraftTxn.Staged(binding, ctx, staged))
    Seq(Row(n))
  }
}

/** `COMMIT GRAFT TRANSACTION` — every staged table's pointer moves in one
  * atomic step (`commitAll`'s marker protocol); readers see none of the
  * transaction or all of it. */
final case class GraftCommitTxnCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("committed_tables", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    GraftTxn.commit(session).map(Row(_))
}

/** `ROLLBACK GRAFT TRANSACTION` — abandon the buffer; the staged dirs
  * stay unreferenced (vacuum's ordinary orphan posture, no cleanup). */
final case class GraftRollbackTxnCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("abandoned", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(GraftTxn.rollback(session)))
}
