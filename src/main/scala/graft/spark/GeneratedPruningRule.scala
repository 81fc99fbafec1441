package graft.spark

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual,
  In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DataType, DateType, StringType, TimestampType}

/**
 * PARTITION-FILTER DERIVATION for generated partition columns (Delta's
 * `OptimizeGeneratedColumn`): a table partitioned by
 * `ship_month GENERATED ALWAYS AS (substring(ship_date, 1, 7))` should
 * prune partitions for `WHERE ship_date >= '2024-03-10'` even though the
 * query never mentions `ship_month`. This rule inspects each Filter
 * directly over a graft relation, and for every conjunct comparing a
 * generation's BASE column to a foldable value, injects the implied
 * predicate on the GENERATED partition column — which the stock scan
 * planning then turns into partition pruning, exactly as if the user had
 * written it.
 *
 * Soundness (the derived conjunct must be IMPLIED by the original — an
 * unsound derivation silently drops rows):
 *
 *  - `b = L` / `b IN (…)` imply `g = f(L)` / `g IN (f(…))` for ANY
 *    deterministic generation `f` — derived for every single-base-column
 *    generation expression.
 *  - Range conjuncts derive ONLY for generations the rule can prove
 *    MONOTONIC (non-decreasing): date/timestamp truncations (`to_date`,
 *    `CAST(… AS DATE)`, `date_trunc`, `trunc`, `year`), string prefixes
 *    (`substring(b, 1, n)`), and prefix-ordered `date_format` patterns
 *    (`yyyy`, `yyyy-MM`, …). For those, `b >= L ⇒ f(b) >= f(L)` — note a
 *    STRICT bound weakens to non-strict on `g` (truncation is not
 *    injective).
 *  - `f(L)` is evaluated by substituting the value into the generation
 *    expression and folding it through a one-row local plan — the same
 *    session (and session timezone) that derives the column on writes.
 *    A NULL result skips the derivation (such rows cannot exist in the
 *    layout — null partition values refuse at write — but the range
 *    algebra stops holding, so derive nothing rather than reason).
 *  - TIMEZONE soundness: any function of a `TIMESTAMP` base interprets
 *    the value in the SESSION zone, so the stored partition values embody
 *    the WRITER's zone. Derivation for timestamp bases therefore requires
 *    the reader's session zone to MATCH the zone recorded at declare time
 *    ([[GeneratedColumns.GeneratedColumn.zone]]); metadata predating the
 *    zone stamp derives nothing. Range derivation additionally requires a
 *    FIXED-OFFSET zone: under a DST zone, sub-day truncations
 *    (`date_format 'yyyy-MM-dd HH:mm'`, `date_trunc('minute', …)`) go
 *    BACKWARD across a fall-back transition, and even timestamp↔ntz casts
 *    stop being order-preserving — equality stays sound (same
 *    deterministic `f` both sides), ranges do not.
 *
 * Mixed-era folds skip derivation entirely (the era-union view's
 * old-era rows do not carry the current scheme's physical layout).
 *
 * Registered by `graft.plans.GraftExtensions` BEFORE the DV scan rewrite,
 * so the injected conjunct sits above whichever scan plan serves the
 * relation and pushes into it.
 */
final case class GraftGeneratedPruningRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case f @ Filter(cond, child) =>
      relationOf(child) match {
        case Some(rel) =>
          val t = rel.table.asInstanceOf[GraftV2Table]
          // TIME-TRAVELED scans derive nothing: the generation metadata is
          // CURRENT-state — rows live at an older commit (e.g. deleted
          // before the rule was declared and validated) never passed its
          // validation, so a derived bound could silently drop them
          if (t.tableDefinition.isSnapshot || t.isMixedFold || t.tableAsOf.isDefined) f
          else {
            val derived = derive(cond, rel, t)
            if (derived.isEmpty) f
            else Filter(derived.foldLeft(cond)(And(_, _)), child)
          }
        case None => f
      }
  }

  private def relationOf(p: LogicalPlan): Option[DataSourceV2Relation] = p match {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftV2Table] => Some(r)
    case a: SubqueryAlias => relationOf(a.child)
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  private def derive(
      cond: Expression,
      rel: DataSourceV2Relation,
      t: GraftV2Table): Seq[Expression] = {
    val defn = t.tableDefinition
    val partCols = defn.partitionSchema.columns.map(_.name)
    val gens = try GeneratedColumns.list(spark, t.tableBinding.log, defn) catch { case NonFatal(_) => Nil }
    val partGens = gens.filter(g => partCols.exists(_.equalsIgnoreCase(g.column)))
    if (partGens.isEmpty) return Nil
    val parts = conjuncts(cond)
    val sessionZone = spark.sessionState.conf.sessionLocalTimeZone
    val sessionFixed = fixedOffset(sessionZone)
    val tz = Some(sessionZone)

    partGens.flatMap { gen =>
      val out = for {
        gAttr <- rel.output.find(_.name.equalsIgnoreCase(gen.column))
        genE <- parseGen(gen.expr)
        base <- singleBase(genE, gen.column)
        bAttr <- rel.output.find(_.name.equalsIgnoreCase(base))
        // TIMESTAMP bases fold under the session zone: the stored layout
        // embodies the WRITER's zone, so the reader's must match the zone
        // recorded at declare time (no record → pre-zone metadata → refuse)
        if bAttr.dataType != TimestampType || gen.zone.exists(sameZone(_, sessionZone))
      } yield {
        val mono = monotonic(genE, bAttr.dataType) &&
          // under a DST zone, sub-day truncations of a session-zone-
          // interpreted timestamp go backward at fall-back — range
          // derivation for timestamp bases needs a fixed offset
          (bAttr.dataType != TimestampType || sessionFixed)
        // the comparison side holding the base column — either the bare
        // attribute or a timestamp↔timestamp_ntz cast the analyzer wrapped
        // around it (a TIMESTAMP literal against an ntz-stored column); the
        // cast moves onto the VALUE side, where it folds. Only under a
        // FIXED-OFFSET session zone: with DST the ntz↔ts casts are neither
        // injective (spring-forward gap) nor order-preserving (fall-back),
        // so even equality derivation through the cast drops rows.
        def attrOf(e: Expression): Option[AttributeReference] = e match {
          case a: AttributeReference
              if a.name.equalsIgnoreCase(base) && rel.outputSet.contains(a) => Some(a)
          case c: Cast => c.child match {
            case a: AttributeReference
                if a.name.equalsIgnoreCase(base) && rel.outputSet.contains(a) &&
                  tsPair(a.dataType, c.dataType) && sessionFixed => Some(a)
            case _ => None
          }
          case _ => None
        }
        def toBase(a: AttributeReference, v: Expression): Expression =
          if (v.dataType == a.dataType) v else Cast(v, a.dataType, tz)
        def g(a: AttributeReference, v: Expression): Option[Expression] =
          evalGen(genE, toBase(a, v)).map { lit =>
            if (lit.dataType == gAttr.dataType) lit
            else Cast(lit, gAttr.dataType, tz)
          }
        // bound: Some(cmp) when the conjunct constrains the base column;
        // strict bounds weaken to non-strict (truncation is not injective)
        def ge(a: AttributeReference, v: Expression) =
          if (mono) g(a, v).map(GreaterThanOrEqual(gAttr, _)) else None
        def le(a: AttributeReference, v: Expression) =
          if (mono) g(a, v).map(LessThanOrEqual(gAttr, _)) else None
        parts.flatMap { p =>
          def sides(l: Expression, r: Expression)(
              direct: (AttributeReference, Expression) => Option[Expression],
              flipped: (AttributeReference, Expression) => Option[Expression])
            : Option[Expression] =
            attrOf(l).filter(_ => r.foldable).flatMap(direct(_, r))
              .orElse(attrOf(r).filter(_ => l.foldable).flatMap(flipped(_, l)))
          p match {
            case EqualTo(l, r) =>
              sides(l, r)((a, v) => g(a, v).map(EqualTo(gAttr, _)),
                          (a, v) => g(a, v).map(EqualTo(gAttr, _)))
            case In(e, vs) if vs.nonEmpty && vs.forall(_.foldable) =>
              attrOf(e).flatMap { a =>
                val mapped = vs.flatMap(g(a, _))
                if (mapped.size == vs.size) Some(In(gAttr, mapped)) else None
              }
            case GreaterThanOrEqual(l, r) => sides(l, r)(ge, le)
            case GreaterThan(l, r)        => sides(l, r)(ge, le)
            case LessThanOrEqual(l, r)    => sides(l, r)(le, ge)
            case LessThan(l, r)           => sides(l, r)(le, ge)
            case _ => None
          }
        }
      }
      out.getOrElse(Nil).filterNot(d => parts.exists(_.semanticEquals(d)))
    }
  }

  /** True when the zone id is a fixed offset (UTC, +05:30, …) — no DST
    * transitions, so truncations and ntz↔ts casts are order-preserving. */
  private def fixedOffset(zone: String): Boolean =
    try java.time.ZoneId.of(zone).getRules.isFixedOffset
    catch { case NonFatal(_) => false }

  /** Same zone semantics: identical rules (covers spelling variants like
    * `UTC` vs `+00:00` when both are fixed offsets). */
  private def sameZone(a: String, b: String): Boolean =
    try {
      val (za, zb) = (java.time.ZoneId.of(a), java.time.ZoneId.of(b))
      za == zb || za.normalized == zb.normalized || za.getRules == zb.getRules
    } catch { case NonFatal(_) => false }

  /** Timestamp families whose mutual casts preserve order (and, under a
    * fixed-offset session zone, invert exactly). */
  private def tsPair(a: DataType, b: DataType): Boolean = {
    def ts(t: DataType) =
      t == TimestampType || t == org.apache.spark.sql.types.TimestampNTZType
    ts(a) && ts(b)
  }

  private def parseGen(sql: String): Option[Expression] =
    try Some(spark.sessionState.sqlParser.parseExpression(sql))
    catch { case NonFatal(_) => None }

  /** The generation must reference exactly ONE column (and not itself). */
  private def singleBase(genE: Expression, gcol: String): Option[String] = {
    val names = genE.collect { case ua: UnresolvedAttribute => ua.nameParts.last }
      .map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    names match {
      case Seq(one) if !one.equalsIgnoreCase(gcol) => Some(one)
      case _ => None
    }
  }

  /** Prefix-ordered date_format patterns: truncating a lexicographically
    * ordered rendering keeps order. */
  private val OrderedFormats = Set(
    "yyyy", "yyyy-MM", "yyyy-MM-dd", "yyyy-MM-dd HH", "yyyy-MM-dd HH:mm")

  /** Can the rule PROVE the generation non-decreasing in its base? */
  private def monotonic(genE: Expression, baseType: DataType): Boolean = {
    def timeLike = baseType == DateType || baseType == TimestampType ||
      baseType == org.apache.spark.sql.types.TimestampNTZType
    genE match {
      case f: UnresolvedFunction =>
        val fn = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
        fn match {
          case "to_date" | "year" => timeLike
          case "date_trunc" | "trunc" => timeLike
          case "date_format" =>
            timeLike && f.arguments.collect { case Literal(s, StringType) => s }
              .exists(s => OrderedFormats.contains(String.valueOf(s)))
          case "substring" | "substr" =>
            baseType == StringType && (f.arguments match {
              case Seq(_, Literal(p, _), _*) => p == 0 || p == 1
              case _ => false
            })
          case _ => false
        }
      case c: Cast => c.dataType == DateType && timeLike
      case _ => false
    }
  }

  /** Fold `f(v)`: substitute the foldable value for the base column and
    * evaluate through a one-row local plan (no cluster job). None on any
    * failure or a NULL result — derivation is best-effort, never throws. */
  private def evalGen(genE: Expression, v: Expression): Option[Literal] =
    try {
      val substituted = genE.transform { case _: UnresolvedAttribute => v }
      val df = spark.range(1)
        .select(org.apache.spark.sql.GraftSqlShim.column(substituted).as("v"))
      val row = df.collect().head
      if (row.isNullAt(0)) None
      else Some(Literal.create(row.get(0), df.schema.head.dataType))
    } catch { case NonFatal(_) => None }
}
