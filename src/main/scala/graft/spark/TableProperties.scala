package graft.spark

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}

/**
 * Per-table properties — `ALTER TABLE t SET TBLPROPERTIES('k'='v', …)` /
 * `UNSET TBLPROPERTIES('k')` / `SHOW TBLPROPERTIES t` (the Delta
 * `delta.*`-property posture): a table pins its OWN behavior instead of
 * relying on every session remembering the right conf.
 *
 * Resolution rule everywhere a behavior key is consulted: the TABLE
 * property wins when present; otherwise the session conf (`spark.` +
 * key) applies; otherwise the built-in default. Existing session-conf
 * workflows are therefore unchanged until a table declares a property.
 *
 * Behavior keys the engine consults (arbitrary other keys are stored and
 * served verbatim — annotations are legal):
 *
 *  - `graft.dml.mergeOnRead` — DML write path (DELETE/UPDATE/MERGE/
 *    REPLACE WHERE/append): vectors + overlay instead of copy-on-write.
 *  - `graft.dml.autoMergeSchema` — MERGE/COPY INTO widen the declared
 *    schema from wider sources.
 *  - `graft.dml.typeWidening` — MERGE/COPY INTO auto-widen NUMERIC leaf
 *    types (int→bigint, float→double, int→double) when the source
 *    carries a losslessly wider column; without it a wider source casts
 *    down (the pre-existing alignment semantics).
 *  - `graft.stats.autoUpdate` — post-write incremental zone-map refresh
 *    ([[FileStats.maybeAutoUpdate]]).
 *  - `graft.autoOptimize` (+ `graft.autoOptimize.minFiles`, default 4) —
 *    post-write small-file compaction ([[Compaction.autoCompact]]) when a
 *    written partition crosses the file-count threshold.
 *  - `graft.vacuum.retainCommits` / `graft.vacuum.retainHours` /
 *    `graft.vacuum.graceMinutes` — a bare `VACUUM t` uses the table's
 *    declared retention; explicit statement arguments still win.
 *  - `graft.zorder.columns` — declared clustering: a bare `OPTIMIZE t`
 *    Z-orders by these columns (the statement's own ZORDER BY wins).
 *
 * Storage follows the [[Constraints]] convention: the property set rides
 * the metadata-only audit commit of every SET/UNSET — CREATE's
 * TBLPROPERTIES the init commit ([[MetadataFiles.tblProperties]],
 * resolved at the log head, so shallow clones own independent property
 * sets).
 */
object TableProperties {

  val MergeOnRead = "graft.dml.mergeOnRead"
  val AutoMergeSchema = "graft.dml.autoMergeSchema"
  val TypeWidening = "graft.dml.typeWidening"
  val StatsAutoUpdate = "graft.stats.autoUpdate"
  val AutoOptimize = "graft.autoOptimize"
  val AutoOptimizeMinFiles = "graft.autoOptimize.minFiles"
  /** Declared bytes-aware OPTIMIZE target (bytes): a bare `OPTIMIZE t`
    * bin-packs to ~this file size ([[Compaction.compactToSize]]); the
    * statement's own `TARGET n MB` wins. */
  val OptimizeTargetFileSize = "graft.optimize.targetFileSize"

  /** Behavior keys with a typed contract — validated at declaration time
    * so a bad value refuses at SET/CREATE instead of breaking every
    * subsequent DML statement that consults the key. */
  private val BooleanKeys =
    Set(MergeOnRead, AutoMergeSchema, TypeWidening, StatsAutoUpdate, AutoOptimize)
  private val IntKeys = Set(
    AutoOptimizeMinFiles, "graft.vacuum.retainCommits",
    "graft.vacuum.retainHours", "graft.vacuum.graceMinutes")
  private val PositiveLongKeys = Set(OptimizeTargetFileSize)

  /** Refuse values the behavior keys cannot parse. Arbitrary other keys
    * store verbatim (annotations are legal). Also the PRE-FLIGHT a mixed
    * ALTER runs before its schema fold, so a doomed statement refuses
    * before anything lands. */
  private[spark] def validate(table: TableDefinition, props: Map[String, String]): Unit =
    props.foreach { case (k, v) =>
      if (BooleanKeys.contains(k))
        require(v.trim.toBooleanOption.isDefined,
          s"invalid value '$v' for boolean property $k on " +
            s"${table.name.fullyQualifiedName} — expected true or false")
      else if (IntKeys.contains(k))
        require(v.trim.toIntOption.exists(_ >= 0),
          s"invalid value '$v' for integer property $k on " +
            s"${table.name.fullyQualifiedName} — expected a non-negative integer")
      else if (PositiveLongKeys.contains(k))
        require(v.trim.toLongOption.exists(_ > 0),
          s"invalid value '$v' for property $k on " +
            s"${table.name.fullyQualifiedName} — expected a positive byte count")
    }

  /** The table's recorded properties (empty when none were ever set).
    * One fold of the cached log: the behavior keys are consulted inside
    * analyzer rules, which run in fixed-point batches
    * ([[MetadataFiles.tblProperties]]). */
  def list(spark: SparkSession, log: TableVersions, table: TableDefinition): Map[String, String] =
    MetadataFiles.tblProperties.current(spark, log, table)

  def get(
      spark: SparkSession, log: TableVersions, table: TableDefinition,
      key: String): Option[String] =
    list(spark, log, table).get(key)

  private def parsed[A](
      table: TableDefinition, key: String, v: String, kind: String,
      parse: String => Option[A]): A =
    parse(v.trim).getOrElse(throw new IllegalArgumentException(
      s"table ${table.name.fullyQualifiedName} carries invalid $kind value " +
        s"'$v' for property $key — fix it with ALTER TABLE SET TBLPROPERTIES"))

  /** Table property if present, else session conf `spark.<key>`, else
    * `default` — the single resolution rule every behavior key uses. */
  def effectiveFlag(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      key: String,
      default: Boolean = false): Boolean =
    get(spark, log, table, key).map(parsed(table, key, _, "boolean", _.toBooleanOption))
      .getOrElse(spark.conf.get("spark." + key, default.toString).toBoolean)

  /** Int twin of [[effectiveFlag]]. */
  def effectiveInt(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      key: String,
      default: Int): Int =
    get(spark, log, table, key).map(parsed(table, key, _, "integer", _.toIntOption))
      .getOrElse(spark.conf.get("spark." + key, default.toString).toInt)

  /** Merge `props` into the table's set; one metadata-only audit commit. */
  def set(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      props: Map[String, String],
      user: UserId): Unit =
    applyChanges(spark, ctx, table, props, Nil, user)

  /** Remove keys (absent keys are a no-op, the SQL contract); one
    * metadata-only audit commit. */
  def unset(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      keys: Seq[String],
      user: UserId): Unit =
    applyChanges(spark, ctx, table, Map.empty, keys, user)

  /** One statement's SETs and UNSETs as ONE audit commit carrying the
    * new set (a mixed `ALTER TABLE … SET … UNSET …` must not land as two
    * half-applied commits). Values validate before anything writes. */
  def applyChanges(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      sets: Map[String, String],
      unsets: Seq[String],
      user: UserId): Unit = {
    require(sets.nonEmpty || unsets.nonEmpty,
      "SET/UNSET TBLPROPERTIES needs at least one property")
    sets.keys.foreach(k => require(k.trim.nonEmpty, "empty property key"))
    validate(table, sets)
    val msg = List(
      if (sets.nonEmpty)
        Some("SET TBLPROPERTIES (" +
          sets.toList.sorted.map { case (k, v) => s"$k=$v" }.mkString(", ") + ")")
      else None,
      if (unsets.nonEmpty)
        Some(s"UNSET TBLPROPERTIES (${unsets.sorted.mkString(", ")})")
      else None).flatten.mkString(" ")
    MetadataFiles.tblProperties.commit(spark, ctx.metastore, table,
      UpdateMessage(s"ALTER TABLE $msg"), user)(_ ++ sets -- unsets)
    ()
  }

  /** CREATE TABLE's TBLPROPERTIES, validated, as the init commit's entry. */
  private[spark] def seed(table: TableDefinition, props: Map[String, String]): Map[String, String] =
    if (props.isEmpty) Map.empty
    else {
      validate(table, props)
      MetadataFiles.tblProperties.entry(props)
    }

  // ---- post-write auto-optimize hook ------------------------------------

  /** Re-entrancy guard: the compaction this hook triggers commits through
    * the same write path, which would re-enter the hook (a no-op second
    * file-count pass, but a wasted listing per write). */
  private val inAutoOptimize = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** POST-WRITE small-file compaction (the [[FileStats.maybeAutoUpdate]]
    * posture): when the table declares `graft.autoOptimize=true` (or the
    * session sets `spark.graft.autoOptimize`), run
    * [[Compaction.autoCompact]] after the commit — partitions at or above
    * `graft.autoOptimize.minFiles` (default 4) fold to one file each in
    * one ordinary versioned commit. Failures log and never fail the
    * already-committed write. */
  private[spark] def maybeAutoOptimize(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId): Unit = {
    if (inAutoOptimize.get()) return
    val log = ctx.metastore.tableVersions
    if (!effectiveFlag(spark, log, table, AutoOptimize)) return
    inAutoOptimize.set(true)
    try {
      Compaction.autoCompact(
        spark, ctx, table, user,
        minFiles = effectiveInt(spark, log, table, AutoOptimizeMinFiles, 4))
      ()
    } catch {
      case e: Exception =>
        System.err.println(
          s"graft auto-optimize of ${table.name.fullyQualifiedName} failed " +
            s"(the write itself is committed): ${e.getMessage}")
    } finally inAutoOptimize.set(false)
  }
}
