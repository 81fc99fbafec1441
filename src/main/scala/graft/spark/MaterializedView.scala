package graft.spark

import java.net.URI

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.functions.{avg, broadcast, coalesce, col, count, expr, greatest, least, lit, max, min, not, sum, when}

import graft.core._
import graft.core.TableVersions.{CommitId, UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/**
 * MATERIALIZED VIEWS with feed-driven incremental refresh — the q71
 * maintenance loop promoted to a first-class, SQL-addressable object.
 *
 * An MV is itself an ordinary versioned (snapshot) graft table: every
 * REFRESH is one atomic commit, so readers flip between consistent states,
 * the MV time-travels like any table, and its history IS the refresh
 * audit log. Two pieces of metadata make it a view:
 *
 *  - the STATIC definition (source table, optional WHERE, group columns,
 *    aggregate list), extracted once at CREATE from the analyzed Catalyst
 *    plan of the defining SELECT and carried by the MV's init commit
 *    ([[MetadataFiles.mv]]);
 *  - the dynamic REFRESH ANCHOR (the source commit the current MV state
 *    reflects), carried IN the MV commit's message (`anchor=<commit-id>`)
 *    so state and anchor move in ONE atomic commit — a crash between
 *    "write MV" and "record anchor" cannot exist.
 *
 * Incremental refresh is never O(source). The change feed from
 * anchor→head ([[ChangeFeed.read]] — deletion-vector-aware by
 * construction) is filtered by the view's WHERE and aggregated ONCE into
 * per-group deltas plus a per-group had-deletes flag; groups then split
 * two ways:
 *
 *  - DELTA groups (insert-only feed for the group, or a count-only view):
 *    signed weights (+1 insert, −1 delete) merge onto the current MV
 *    state full-outer; `min`/`max` fold inserted values in via
 *    `least`/`greatest`; `sum` is NULL-exact (a group stays NULL until a
 *    non-null value arrives — never coalesced to a phantom 0). O(changed
 *    rows).
 *  - RE-SCAN groups (the feed DELETED rows of a group maintaining
 *    sum/min/max, or any touched group of a view with `avg`): recomputed
 *    from the source at head, restricted to exactly those group keys by a
 *    broadcast semi-join — a delete can remove the current min/max or the
 *    last non-null summand, which no delta can repair. O(source rows of
 *    the touched groups); the key joins are NULL-SAFE (`<=>`) because
 *    GROUP BY treats NULL as a group.
 *
 * Admitted at CREATE: `count(*)`/`count(c)`, `sum(c)`, `avg(c)`,
 * `min(c)`, `max(c)` over plain columns; at least one `count(*)` is
 * REQUIRED because group liveness is undecidable from the other
 * aggregates alone.
 *
 * Scale shape: one feed-sized shuffle for the deltas; the merge join is
 * MV-sized (#groups — AQE broadcasts it when small); the re-scan reads
 * only the touched groups' source rows. A source checkpoint that folded
 * the anchor away refuses loudly and `refresh(full = true)` (SQL
 * `REFRESH … FULL`) rebuilds from a source scan — the same posture as
 * the streaming source's re-anchor rule.
 */
object MaterializedView {

  /** One maintained aggregate: `fn` ∈ count|sum over `input` (count with
    * input "*" is count(1)), surfaced as MV column `alias`. */
  final case class AggSpec(fn: String, input: String, alias: String)

  /** One STAR-SCHEMA dimension join: the fact side INNER-equi-joins
    * `dimParts` (broadcast at refresh), both sides addressable through
    * their aliases so the stored ON text re-resolves verbatim. */
  final case class JoinSpec(dimParts: Seq[String], alias: String, onSql: String)

  final case class MvDef(
      sourceParts: Seq[String],
      where: Option[String],
      groupCols: Seq[String],
      aggs: Seq[AggSpec],
      joins: Seq[JoinSpec] = Nil,
      factAlias: Option[String] = None,
      groupRefs: Seq[String] = Nil) {
    /** Qualified references that resolve against the JOINED row shape;
      * join-free views reference their bare names directly. */
    def refsForGroups: Seq[String] = if (groupRefs.nonEmpty) groupRefs else groupCols
  }

  /** Test seam: invoked between a refresh's read-state capture and its
    * commit, so a spec can interleave a competing writer at exactly the
    * racy point deterministically. No-op outside tests. */
  private[spark] var interleaveForTest: () => Unit = () => ()

  private val mapper = new ObjectMapper()
  private val AnchorMark = """anchor=([0-9a-fA-F-]{8,})""".r.unanchored
  // `dims=<fqtn>:<commit>;...` — the DIM anchors a refresh reflected; a
  // dim that moved since invalidates fact-delta maintenance (the deltas
  // would join TODAY's dim rows while the untouched groups keep
  // yesterday's), so the next refresh detects the move and goes FULL
  private val DimsMark = """dims=(\S+)""".r.unanchored

  // ---------------------------------------------------------------- create

  /** Create + fully build an MV from `selectSql`, register it in catalog
    * `cat`, and return its definition. The SELECT must be an aggregate of
    * a single graft table of the same catalog (optional WHERE), with only
    * count/sum/avg/min/max aggregates and at least one `count(*)`. */
  def create(
      session: SparkSession,
      cat: String,
      mvName: TableName,
      location: URI,
      selectSql: String,
      user: UserId): TableDefinition = {
    // extraction works on the PARSED (unresolved) plan: the shapes are the
    // grammar's, stable against resolution rules (the DV scan rule rewrites
    // graft relations during analysis, which would hide the source)
    val plan = session.sessionState.sqlParser.parsePlan(selectSql)
    val (mvDef, srcDefn, binding) = extract(session, cat, plan)
    // determinism is only decidable post-resolution (an unresolved rand()
    // reports deterministic): analyze the WHERE against the source scan
    // before anything is created
    mvDef.where.foreach { w =>
      val cond = applyJoins(
        session, binding, mvDef, srcDefn,
        VersionedReader(session, binding.log).read(srcDefn))
        .where(expr(w)).queryExecution.analyzed
        .collect { case f: Filter => f.condition }
      require(cond.forall(_.deterministic),
        s"not incrementally maintainable: WHERE must be deterministic, got $w")
    }
    if (mvDef.joins.nonEmpty) {
      // ON determinism is decidable only post-resolution, like the WHERE
      val conds = applyJoins(
        session, binding, mvDef, srcDefn,
        VersionedReader(session, binding.log).read(srcDefn))
        .queryExecution.analyzed
        .collect { case j: Join => j.condition }.flatten
      require(conds.forall(_.deterministic),
        "not incrementally maintainable: JOIN ON must be deterministic")
    }

    val mvDefn = TableDefinition(mvName, location, PartitionSchema.snapshot, FileFormat.Parquet)
    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, mvDefn))
    ctx.init(mvDefn, user, UpdateMessage(
      s"CREATE MATERIALIZED VIEW over ${mvDef.sourceParts.mkString(".")}"),
      declared = MetadataFiles.mv.entry(defJson(mvDef)))

    // even the initial build commits with the rebase discipline, anchored
    // at the state observed here (the init commit): a concurrent
    // create/refresh of the same MV name conflicts loudly instead of
    // last-writer-wins clobbering
    val mvRead = ctx.metastore.tableVersions.currentCommit(mvDefn.name)
    val anchor = binding.log.currentCommit(srcDefn.name)
    val pinned = pinDims(binding.log, mvDef)
    val full = fullState(session, binding, srcDefn, mvDef, anchor, dimAts = pinned)
    commitMvRebase(ctx, mvDefn,
      full.versionedStage(ctx, mvDefn, user,
        UpdateMessage(
          s"REFRESH (full) anchor=${anchor.id}" + dimsMark(pinned))),
      mvRead)
    GraftTableCatalog.register(cat, mvDefn, None)
    mvDefn
  }

  /** All MV state commits ride the Q72 [[graft.core.TableVersions.commitRebase]]
    * discipline anchored at the MV commit the refresh READ: the MV is a
    * snapshot table, so ANY intervening MV commit (a racing refresh) is a
    * whole-table conflict — the loser throws
    * [[graft.core.TableVersions.ConcurrentWriteException]] and its staged
    * dirs stay unreferenced, never a delta merged onto contents it was not
    * derived from. */
  private def commitMvRebase(
      ctx: VersionContext,
      mvDefn: TableDefinition,
      staged: VersionContext.StagedCommit,
      readCommit: CommitId): Unit = {
    ctx.metastore.commitRebase(mvDefn.name, staged.update, readCommit,
      metadata = () => staged.schemaEntry(ctx.metastore.tableVersions))
    ()
  }

  // --------------------------------------------------------------- refresh

  /** Refresh the MV to the source's head. Returns (old anchor, new anchor,
    * `"incremental"|"full"|"no-op"`). Incremental unless `full` is set or
    * the view was never refreshable (anchor folded away → loud error
    * naming the FULL escape hatch). */
  def refresh(
      session: SparkSession,
      cat: String,
      mvDefn: TableDefinition,
      user: UserId,
      full: Boolean = false): (CommitId, CommitId, String) = {
    val binding = GraftTableCatalog.lookup(cat, mvDefn.name).map(_._1)
      .getOrElse(sys.error(s"$cat.${mvDefn.name.fullyQualifiedName} is not registered"))
    val mvDef = readDef(session, binding.log, mvDefn)
    val srcDefn = GraftTableCatalog.lookup(cat, TableName(
      mvDef.sourceParts(1), mvDef.sourceParts(2))).map(_._2)
      .getOrElse(sys.error(s"MV source ${mvDef.sourceParts.mkString(".")} is not registered"))

    // the MV state this refresh derives from — both the anchor lookup and
    // the incremental merge read THIS commit, and the commit below rebases
    // against it, so a racing refresh landing in between conflicts loudly
    val mvRead = binding.log.currentCommit(mvDefn.name)
    interleaveForTest()
    val anchor = anchorAt(binding.log, mvDefn.name, mvRead)
    val head = binding.log.currentCommit(srcDefn.name)
    // a DIM that moved since the recorded anchors invalidates fact-delta
    // maintenance (deltas would join TODAY's dim rows while untouched
    // groups keep yesterday's aggregates) — re-anchor with a FULL build
    val pinned: Map[String, CommitId] =
      if (mvDef.joins.isEmpty) Map.empty else pinDims(binding.log, mvDef)
    val dimsNow: Map[String, String] = pinned.map { case (n, c) => n -> c.id }
    val dimsMoved = mvDef.joins.nonEmpty &&
      !dimAnchorsAt(binding.log, mvDefn.name, mvRead).contains(dimsNow)
    if (anchor.contains(head) && !full && !dimsMoved) return (head, head, "no-op")

    val ctx = VersionContext(GraftV2Table.metastoreFor(binding, mvDefn))
    if (full || anchor.isEmpty || dimsMoved) {
      commitMvRebase(ctx, mvDefn,
        fullState(session, binding, srcDefn, mvDef, head, dimAts = pinned)
          .versionedStage(
            ctx, mvDefn, user, UpdateMessage(
              s"REFRESH (full) anchor=${head.id}" + dimsMark(pinned))),
        mvRead)
      return (anchor.getOrElse(head), head, "full")
    }

    val feed =
      try ChangeFeed.read(session, binding.log, srcDefn, anchor, head)
      catch { case e: Exception =>
        throw new IllegalStateException(
          s"cannot read the change feed from anchor ${anchor.get.id} (a source " +
            "checkpoint may have folded it away) — use REFRESH ... FULL to rebuild",
          e)
      }
    // the fact feed joins the dims exactly like the full build (the
    // `_change_type` column rides through the join untouched), then
    // collapses to the view's own bare column space
    val feedJ = applyJoins(session, binding, mvDef, srcDefn, feed, pinned)
    val feedW = mvDef.where.map(w => feedJ.where(expr(w))).getOrElse(feedJ)
    val (feedF, aggsBare) =
      normalized(feedW, mvDef, extraCols = Seq(ChangeFeed.ChangeTypeCol))
    val isInsert =
      col(ChangeFeed.ChangeTypeCol).isin(ChangeFeed.Insert, ChangeFeed.UpdatePost)
    val sign = when(isInsert, lit(1L)).otherwise(lit(-1L))
    // ONE feed-sized aggregation: every delta plus the had-deletes flag
    val deltaAggs: Seq[Column] = aggsBare.flatMap { a =>
      val d: Option[Column] = a.fn match {
        case "count" if a.input == "*" => Some(sum(sign))
        case "count" => Some(sum(when(col(a.input).isNotNull, sign).otherwise(lit(0L))))
        case "sum"   => Some(sum(sign * col(a.input)))
        // min/max deltas fold INSERTED values only; a deleted min/max
        // sends the group to the re-scan path instead
        case "min"   => Some(min(when(isInsert, col(a.input))))
        case "max"   => Some(max(when(isInsert, col(a.input))))
        case "avg"   => None // avg groups always re-scan when touched
      }
      d.map(_.as(s"__d_${a.alias}")).toSeq
    } :+ max(when(isInsert, lit(0)).otherwise(lit(1))).as("__has_del")
    // materialize once: the touched-groups frame feeds the re-scan key set,
    // the anti-join, and the delta merge — tiny (#touched groups)
    val touched = feedF.groupBy(mvDef.groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .localCheckpoint(true)

    val hasAvg = mvDef.aggs.exists(_.fn == "avg")
    val rescanOnDelete = mvDef.aggs.exists(a => Set("sum", "min", "max")(a.fn))
    val rescanCond: Column =
      if (hasAvg) lit(true)
      else if (rescanOnDelete) col("__has_del") === 1
      else lit(false)
    val pureDelta = !hasAvg && !rescanOnDelete

    val current = VersionedReader(session, binding.log).readAsOf(mvDefn, mvRead)
    val liveness = mvDef.aggs.find(a => a.fn == "count" && a.input == "*").get.alias
    val rescanKeys = touched.where(rescanCond).select(mvDef.groupCols.map(col): _*)
    // every group-key join below is NULL-SAFE (<=>): GROUP BY treats NULL
    // as a group, so a null-keyed group must merge/anti/semi-join like any
    // other — plain equality would duplicate it on merge and strand its
    // stale value on re-scan
    def keyMatch(left: String, right: String): Column = mvDef.groupCols
      .map(c => col(s"$left.$c") <=> col(s"$right.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val currentKept =
      if (pureDelta) current
      else current.alias("__mv_c0")
        .join(broadcast(rescanKeys.alias("__mv_rk")),
          keyMatch("__mv_c0", "__mv_rk"), "left_anti")
    val merged = currentKept.alias("__mv_cur")
      .join(touched.where(not(rescanCond)).alias("__mv_d"),
        keyMatch("__mv_cur", "__mv_d"), "full_outer")
      .select(mvDef.groupCols.map(c =>
        coalesce(col(s"__mv_cur.$c"), col(s"__mv_d.$c")).as(c)) ++ mvDef.aggs.map { a =>
        val dt = current.schema(a.alias).dataType
        val old = col(s"__mv_cur.${a.alias}")
        val d = if (a.fn == "avg") old else col(s"__mv_d.__d_${a.alias}")
        val next: Column = a.fn match {
          case "count" => coalesce(old, lit(0L)) + coalesce(d, lit(0L))
          // NULL-exact: a group whose live rows hold no non-null value IS
          // NULL, matching the full build — never a phantom 0 (deletes
          // that could empty the non-null set re-scan instead)
          case "sum" => when(old.isNull && d.isNull, lit(null))
            .otherwise(coalesce(old, lit(0).cast(dt)) + coalesce(d, lit(0).cast(dt)))
          case "min" => least(old, d) // least/greatest skip nulls
          case "max" => greatest(old, d)
          case "avg" => old // every touched avg group is in the re-scan set
        }
        next.cast(dt).as(a.alias)
      }: _*)
      .where(col(liveness) > 0)
    val next =
      if (pureDelta) merged
      else merged.unionByName(
        fullState(session, binding, srcDefn, mvDef, head, Some(rescanKeys), pinned)
          .select(mvDef.groupCols.map(col) ++ mvDef.aggs.map(a =>
            col(a.alias).cast(current.schema(a.alias).dataType).as(a.alias)): _*))
    commitMvRebase(ctx, mvDefn,
      next.versionedStage(
        ctx, mvDefn, user, UpdateMessage(
          s"REFRESH (incremental) anchor=${head.id}" + dimsMark(pinned))),
      mvRead)
    (anchor.get, head, "incremental")
  }

  /** The source commit the MV's CURRENT state reflects: the `anchor=` mark
    * of the newest refresh commit AT OR BEFORE the current pointer — not
    * the newest in history, which after a RESTORE of the MV names a
    * rolled-back state (an incremental refresh anchored there would apply
    * deltas onto contents they were not derived from: silent corruption).
    * None = never built, nothing to be incremental against. */
  def currentAnchor(log: TableVersions, mv: TableName): Option[CommitId] =
    anchorAt(log, mv, log.currentCommit(mv))

  /** The anchor as of a SPECIFIC MV commit — the refresh path resolves it
    * against the commit it rebases on, not a possibly-moved pointer. */
  private def anchorAt(log: TableVersions, mv: TableName, at: CommitId): Option[CommitId] =
    log.updates(mv).iterator // newest first
      .dropWhile(_.id != at)
      .map(_.message.content)
      .collectFirst { case AnchorMark(id) => CommitId(id) }

  // ------------------------------------------------------------- internals

  /** Resolve the view's dimension tables (create-time validated, so a
    * later failure means a dim was dropped from the catalog — loud). */
  private def dimDefns(
      mvDef: MvDef): Seq[TableDefinition] = mvDef.joins.map { j =>
    GraftTableCatalog.lookup(j.dimParts.head, TableName(j.dimParts(1), j.dimParts(2)))
      .map(_._2)
      .getOrElse(sys.error(
        s"MV dimension ${j.dimParts.mkString(".")} is not a registered graft table"))
  }

  /** The STAR JOIN: `base` (fact rows or the fact change feed) aliased,
    * then every dimension INNER-joined BROADCAST at its current state
    * (DV-applied, column-mapped). Identity for join-free views. Used by
    * the full build, the re-scan path, and the feed delta pipeline alike
    * — one definition of the join, three consumers. */
  private def applyJoins(
      session: SparkSession,
      binding: GraftTableCatalog.Binding,
      mvDef: MvDef,
      factDefn: TableDefinition,
      base: DataFrame,
      dimAts: Map[String, CommitId] = Map.empty): DataFrame = {
    if (mvDef.joins.isEmpty) return base
    val aliased = base.alias(mvDef.factAlias.getOrElse(factDefn.name.name))
    mvDef.joins.zip(dimDefns(mvDef)).foldLeft(aliased) { case (acc, (j, dimDefn)) =>
      // dims read at the refresh's PINNED commits: one resolution per
      // refresh shared by the guard, every join, and the recorded mark —
      // a dim landing mid-refresh cannot make the mark claim a state the
      // join never read
      val at = dimAts.get(dimDefn.name.fullyQualifiedName)
      val dim = ColumnMapping.read(session, binding.log, dimDefn, at)
      acc.join(broadcast(dim.alias(j.alias)), expr(j.onSql), "inner")
    }
  }

  /** Pin every dimension's current commit — the ONE resolution a refresh
    * shares across its guard, joins, and recorded mark. */
  private def pinDims(
      log: TableVersions, mvDef: MvDef): Map[String, CommitId] =
    dimDefns(mvDef)
      .map(d => d.name.fullyQualifiedName -> log.currentCommit(d.name)).toMap

  /** For a STAR view, collapse the joined row shape onto the view's own
    * column space: each qualified group ref becomes its bare MV column
    * name and each aggregate input its bare last segment (uniqueness
    * enforced at CREATE), so every downstream join/aggregation speaks
    * unambiguous names even when fact and dim share column names.
    * Identity for join-free views (their refs are already bare), and the
    * rewritten agg list to use downstream. */
  private def normalized(
      df: DataFrame,
      mvDef: MvDef,
      extraCols: Seq[String] = Nil): (DataFrame, Seq[AggSpec]) = {
    def bare(ref: String): String = ref.split("\\.").last
    val aggsBare = mvDef.aggs.map(a =>
      if (a.input == "*") a else a.copy(input = bare(a.input)))
    if (mvDef.joins.isEmpty) return (df, aggsBare)
    val groupPart = mvDef.refsForGroups.zip(mvDef.groupCols)
      .map { case (r, n) => col(r).as(n) }
    val groupRefSet = mvDef.refsForGroups.toSet
    val inputPart = mvDef.aggs.filter(_.input != "*").map(_.input).distinct
      .filterNot(groupRefSet) // same ref already projected under its bare name
      .map(r => col(r).as(bare(r)))
    val extras = extraCols.map(col)
    (df.select(groupPart ++ inputPart ++ extras: _*), aggsBare)
  }

  /** The dims-anchor text appended to every refresh commit of a join MV. */
  private def dimsMark(pinned: Map[String, CommitId]): String =
    if (pinned.isEmpty) ""
    else " dims=" + pinned.toSeq.sortBy(_._1)
      .map { case (n, c) => s"$n:${c.id}" }.mkString(";")

  /** The dim anchors recorded by the newest refresh at-or-before `at`. */
  private def dimAnchorsAt(
      log: TableVersions, mv: TableName, at: CommitId): Option[Map[String, String]] =
    log.updates(mv).iterator
      .dropWhile(_.id != at)
      .map(_.message.content)
      .collectFirst { case DimsMark(body) =>
        body.split(";").toList.flatMap(_.split(":") match {
          case Array(n, c) => List(n -> c)
          case _           => Nil
        }).toMap
      }

  /** The view's defining aggregate over the source at `at` — the whole
    * source, or (`restrictTo`) only the rows of the given group keys: the
    * re-scan path's bound, applied BEFORE the aggregation via a broadcast
    * semi-join so the scan reads just the touched groups (and prunes
    * partitions dynamically when group keys include partition columns). */
  private def fullState(
      session: SparkSession,
      binding: GraftTableCatalog.Binding,
      srcDefn: TableDefinition,
      mvDef: MvDef,
      at: CommitId,
      restrictTo: Option[DataFrame] = None,
      dimAts: Map[String, CommitId] = Map.empty): DataFrame = {
    // LOGICAL names: the view definition speaks the source's logical
    // schema, so a column-mapped source must project physical → logical
    // before the WHERE/GROUP BY resolve (the change-feed path already does)
    val base = ColumnMapping.read(session, binding.log, srcDefn, Some(at))
    // star join first: the WHERE (and the group columns) may speak dim
    // attributes; dims read at their CURRENT state (the refresh recorded
    // their anchors and re-anchors FULL when one moved)
    val joined = applyJoins(session, binding, mvDef, srcDefn, base, dimAts)
    val basef = mvDef.where.map(w => joined.where(expr(w))).getOrElse(joined)
    // star views collapse to the view's own (bare, unambiguous) columns
    // before any further joins — fact and dim may share column names
    val (norm, aggsBare) = normalized(basef, mvDef)
    // null-safe semi-join: a NULL group key is a group like any other
    val scoped = restrictTo
      .map { k =>
        norm.alias("__pe_b").join(broadcast(k.alias("__pe_k")),
          mvDef.groupCols.map(c => col(s"__pe_b.$c") <=> col(s"__pe_k.$c"))
            .reduceOption(_ && _).getOrElse(lit(true)), "left_semi")
      }
      .getOrElse(norm)
    val aggs = aggsBare.map { a =>
      val c: Column = a.fn match {
        case "count" if a.input == "*" => count(lit(1))
        case "count" => count(col(a.input))
        case "sum"   => sum(col(a.input))
        case "avg"   => avg(col(a.input))
        case "min"   => min(col(a.input))
        case "max"   => max(col(a.input))
      }
      c.as(a.alias)
    }
    scoped.groupBy(mvDef.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Pull (source, where, groups, aggs) out of the PARSED plan of the
    * defining SELECT; reject every shape the signed-delta loop cannot
    * maintain, loudly and specifically. Column existence is validated by
    * the full build that immediately follows (ordinary analysis errors). */
  private def extract(
      session: SparkSession,
      cat: String,
      plan: LogicalPlan): (MvDef, TableDefinition, GraftTableCatalog.Binding) = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"not incrementally maintainable: $why (an MV SELECT is " +
        "SELECT <group cols>, count(*)/count(c)/sum(c)/avg(c)/min(c)/max(c) ... " +
        "FROM <fact graft table> [JOIN <dim graft table> ON <equi cond>]* " +
        "[WHERE <row predicate>] GROUP BY <group cols>)")

    val agg = plan match {
      case a: Aggregate => a
      case _ => fail("the defining query is not a GROUP BY aggregate")
    }
    // peel to the relation, collecting at most one Filter
    var where: Option[Expression] = None
    var node: LogicalPlan = agg.child
    var done = false
    while (!done) node match {
      case SubqueryAlias(_, c) => node = c
      case Filter(cond, c) =>
        if (where.nonEmpty) fail("more than one WHERE layer")
        where = Some(cond); node = c
      case _ => done = true
    }
    // peel a LEFT-DEEP star-join tree: Join(Join(fact, dim1), dim2) —
    // the LEFTMOST relation is the FACT (the feed-driven source), every
    // right side a broadcastable dimension
    def relationOf(n: LogicalPlan, side: String): (UnresolvedRelation, Option[String]) =
      n match {
        case SubqueryAlias(id, r: UnresolvedRelation) => (r, Some(id.name))
        case r: UnresolvedRelation                    => (r, None)
        case other => fail(s"$side must be one graft table, got ${other.nodeName}")
      }
    var dimJoins = List.empty[(UnresolvedRelation, Option[String], Expression)]
    while (node.isInstanceOf[Join]) {
      val j = node.asInstanceOf[Join]
      if (j.joinType != Inner)
        fail(s"only INNER dimension joins are maintainable, got ${j.joinType.sql}")
      val cond = j.condition.getOrElse(fail("a dimension join needs an ON condition"))
      val (r, al) = relationOf(j.right, "JOIN right side")
      dimJoins ::= ((r, al, cond))
      node = j.left
    }
    val (factRel, factAlias) = relationOf(node, "FROM")

    def resolveParts(r: UnresolvedRelation): (TableDefinition, GraftTableCatalog.Binding) =
      r.multipartIdentifier match {
        case Seq(c, db, t) =>
          if (c != cat) fail(s"source catalog $c must be the MV's catalog $cat")
          if (r.options.containsKey("versionAsOf") || r.options.containsKey("timestampAsOf"))
            fail("a time-traveled source cannot be maintained forward")
          GraftTableCatalog.lookup(c, TableName(db, t))
            .getOrElse(fail(s"${r.multipartIdentifier.mkString(".")} is not a registered graft table"))
            .swap
        case other => fail(s"FROM must name catalog.db.table, got ${other.mkString(".")}")
      }
    val (srcDefn, binding) = resolveParts(factRel)
    val joinSpecs = dimJoins.map { case (r, al, cond) =>
      val (dimDefn, _) = resolveParts(r)
      JoinSpec(
        Seq(cat, dimDefn.name.schema, dimDefn.name.name),
        al.getOrElse(dimDefn.name.name), cond.sql)
    }

    val groupRefs = agg.groupingExpressions.map {
      case a: UnresolvedAttribute => a.nameParts.mkString(".")
      case other => fail(s"GROUP BY supports plain columns only, got ${other.sql}")
    }
    val groupCols = groupRefs.map(_.split("\\.").last)
    val aggs = agg.aggregateExpressions.flatMap {
      case a: UnresolvedAttribute =>
        if (!groupCols.contains(a.nameParts.last)) fail(s"non-grouped bare column ${a.name}")
        None
      case Alias(f: UnresolvedFunction, name) =>
        if (f.isDistinct) fail(s"DISTINCT aggregate $name")
        if (f.filter.nonEmpty) fail(s"FILTER clause on $name")
        (f.nameParts.map(_.toLowerCase), f.arguments) match {
          case (Seq("count"), Seq(UnresolvedStar(None))) => Some(AggSpec("count", "*", name))
          case (Seq("count"), Seq(Literal(_, _)))        => Some(AggSpec("count", "*", name))
          case (Seq("count"), Seq(a: UnresolvedAttribute)) =>
            Some(AggSpec("count", a.nameParts.mkString("."), name))
          case (Seq(fn), Seq(a: UnresolvedAttribute))
            if Set("sum", "avg", "min", "max")(fn) =>
            Some(AggSpec(fn, a.nameParts.mkString("."), name))
          case (fn, _) => fail(s"aggregate ${fn.mkString(".")} is not maintainable " +
            "(count/sum/avg/min/max of a plain column only)")
        }
      case f: UnresolvedFunction =>
        fail(s"aggregate ${f.nameParts.mkString(".")} needs an AS alias")
      case other => fail(s"unsupported select item ${other.sql}")
    }
    if (!aggs.exists(a => a.fn == "count" && a.input == "*"))
      fail("at least one count(*) is required (group liveness under deletes)")

    // a star view collapses to BARE names post-join — the bare shapes of
    // group refs and aggregate inputs must be collision-free
    if (joinSpecs.nonEmpty) {
      def bare(r: String): String = r.split("\\.").last
      if (groupCols.distinct.size != groupCols.size)
        fail(s"group columns collide on bare names (${groupCols.mkString(", ")})")
      val byBare = aggs.map(_.input).filter(_ != "*").distinct.groupBy(bare)
      byBare.foreach { case (n, refs) =>
        if (refs.size > 1)
          fail(s"aggregate inputs ${refs.mkString(", ")} collide on bare name $n")
        groupRefs.zip(groupCols).find(_._2 == n).foreach { case (gr, _) =>
          if (refs.head != gr)
            fail(s"aggregate input ${refs.head} and group column $gr collide on bare name $n")
        }
      }
    }

    val mvDef = MvDef(
      Seq(cat, srcDefn.name.schema, srcDefn.name.name),
      where.map(_.sql), groupCols, aggs,
      joins = joinSpecs, factAlias = factAlias,
      groupRefs = if (joinSpecs.nonEmpty) groupRefs else Nil)
    (mvDef, srcDefn, binding)
  }

  private def defJson(d: MvDef): com.fasterxml.jackson.databind.JsonNode = {
    val n = mapper.createObjectNode()
    n.put("source", d.sourceParts.mkString("."))
    d.factAlias.foreach(n.put("factAlias", _))
    d.where.foreach(w => n.put("where", w))
    val g = n.putArray("group"); d.groupCols.foreach(g.add)
    val a = n.putArray("aggs")
    d.aggs.foreach { s =>
      val o = mapper.createObjectNode()
      o.put("fn", s.fn); o.put("input", s.input); o.put("alias", s.alias)
      a.add(o)
    }
    if (d.joins.nonEmpty) {
      val js = n.putArray("joins")
      d.joins.foreach { j =>
        val o = mapper.createObjectNode()
        o.put("dim", j.dimParts.mkString("."))
        o.put("alias", j.alias); o.put("on", j.onSql)
        js.add(o)
      }
      val gr = n.putArray("groupRefs"); d.refsForGroups.foreach(gr.add)
    }
    n
  }

  def readDef(session: SparkSession, log: TableVersions, mv: TableDefinition): MvDef = {
    val node = MetadataFiles.mv.current(session, log, mv)
    require(!node.isMissingNode, s"${mv.name.fullyQualifiedName} is not a materialized view")
    MvDef(
      node.get("source").asText().split("\\.").toSeq,
      Option(node.get("where")).map(_.asText()),
      (0 until node.get("group").size()).map(node.get("group").get(_).asText()),
      (0 until node.get("aggs").size()).map { i =>
        val o = node.get("aggs").get(i)
        AggSpec(o.get("fn").asText(), o.get("input").asText(), o.get("alias").asText())
      },
      joins = Option(node.get("joins")).map(js =>
        (0 until js.size()).map { i =>
          val o = js.get(i)
          JoinSpec(
            o.get("dim").asText().split("\\.").toSeq,
            o.get("alias").asText(), o.get("on").asText())
        }.toSeq).getOrElse(Nil),
      factAlias = Option(node.get("factAlias")).map(_.asText()),
      groupRefs = Option(node.get("groupRefs")).map(gr =>
        (0 until gr.size()).map(gr.get(_).asText()).toSeq).getOrElse(Nil))
  }
}
