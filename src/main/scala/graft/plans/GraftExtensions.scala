package graft.plans

import graft.functions.{CharStatsExpr, CosineSimilarityExpr, MinhashSigExpr, UnaccentExpr}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session extensions — the full SURVEY §2 extension-point ladder:
  * a custom `Rule[LogicalPlan]` (predicate rewriting), a custom planner
  * `Strategy` backing the [[TopKPerKey]] whole-operator node, a custom
  * table-valued function ([[DaySpineTvf]]) and the four native scalar
  * expressions in [[graft.functions]].
  * Installed by every engine session ([[graft.Engine.session]]); a
  * `newSession()` child inherits the extensions, so each session's
  * registry holds the functions from the start and nothing registers
  * them again per call. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => PushFilterThroughNanoNarrowing)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectTableFunction(DaySpineTvf.description)
    ext.injectFunction(native("unaccent_native", classOf[UnaccentExpr])(
      a => UnaccentExpr(a.head)))
    ext.injectFunction(native("minhash_sig_native", classOf[MinhashSigExpr])(
      a => MinhashSigExpr(a.head)))
    ext.injectFunction(native("char_stats_native", classOf[CharStatsExpr])(
      a => CharStatsExpr(a.head)))
    ext.injectFunction(native("cosine_native", classOf[CosineSimilarityExpr], arity = 2)(
      a => CosineSimilarityExpr(a.head, a(1))))
  }

  /** A function-registry entry whose builder checks the argument count
    * before it builds the expression. */
  private def native(name: String, cls: Class[_], arity: Int = 1)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), { args =>
      require(args.length == arity, s"$name expects exactly $arity argument" +
        (if (arity == 1) "" else "s") + s", got ${args.length}")
      build(args)
    })
}

/** Makes event-time predicates on the nanos→micros narrowing pushable.
  *
  * The fixture `events.ts` column is parquet TIMESTAMP(NANOS), which the
  * engine reads as a raw nano long and narrows with
  * `timestamp_micros(ts div 1000)` (see [[graft.Engine.table]]). The stock
  * optimizer happily pushes a later timestamp filter through that
  * projection — by SUBSTITUTING the narrowing expression into the
  * condition, leaving `timestamp_micros(ts div 1000) >= lit` sitting on
  * the scan as an unpushable DataFilter: at 100 TB, a full read instead of
  * a row-group-pruned one. [[graft.Engine.eventsBetween]] solves this by
  * hand for callers that know to use it; this rule solves it for everyone
  * else by rewriting such comparisons, wherever they appear in a Filter
  * condition, to the exactly-equivalent raw-nano-long comparison, which
  * the parquet strategy then pushes.
  *
  * Exactness (`c` = raw nanos, `m` = literal micros). Spark's `div`
  * (IntegralDivide) truncates toward zero, which equals floor division
  * only for non-negative `c`; a negative raw (pre-epoch) truncates UP
  * (e.g. -500 div 1000 = 0). The rule therefore fires only for `m >= 1`:
  * every negative `c` then lands strictly below the bucket `m` on both
  * sides of each equivalence, so all five rewrites are exact for raw
  * values of EITHER sign:
  *   ts >= m  ⇔  c div 1000 >= m    ⇔  c >= 1000m
  *   ts >  m  ⇔  c div 1000 >= m+1  ⇔  c >= 1000(m+1)
  *   ts <  m  ⇔  c < 1000m          ts <= m  ⇔  c < 1000(m+1)
  *   ts == m  ⇔  1000m <= c < 1000(m+1)
  * (For `m <= 0` the truncation/floor mismatch makes e.g. `ts >= epoch`
  * true for c = -500 while `c >= 0` is false — so those literals are left
  * untouched rather than risk dropping rows.) Comparisons that do not
  * match (non-literal operand, other shapes, non-positive or
  * near-overflow literals) are left untouched — the rule only ever
  * replaces a predicate with an exact equivalent, it never drops one.
  */
object PushFilterThroughNanoNarrowing extends Rule[LogicalPlan] {

  /** Guards `1000 * (m + 1)` against overflow; beyond this the rewrite is
    * skipped (year ~294K, but correctness over cleverness). */
  private val MaxAbsMicros = Long.MaxValue / 1000 - 1

  /** Extracts the raw long attribute from `timestamp_micros(raw div 1000)`. */
  private object Narrowed {
    def unapply(e: Expression): Option[Attribute] = e match {
      case MicrosToTimestamp(d: IntegralDivide)
          if d.left.isInstanceOf[AttributeReference] &&
            d.left.dataType == LongType &&
            d.right.foldable && Option(d.right.eval()).contains(1000L) =>
        Some(d.left.asInstanceOf[AttributeReference].toAttribute)
      case _ => None
    }
  }

  private object TsMicros {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, TimestampType) => Some(v)
      case Literal(v: Long, TimestampNTZType) => Some(v)
      case _ => None
    }
  }

  private def ge(c: Attribute, m: Long) = GreaterThanOrEqual(c, Literal(m * 1000L, LongType))
  private def lt(c: Attribute, m: Long) = LessThan(c, Literal(m * 1000L, LongType))

  /** Sound iff m >= 1 (truncation == floor on the reachable range — see
    * class doc); the upper bound keeps `1000 * (m + 1)` from wrapping and,
    * being an explicit range test, is immune to the `math.abs(Long
    * .MinValue) < 0` trap. */
  private def ok(m: Long): Boolean = m >= 1L && m <= MaxAbsMicros

  private def rewriteComparisons(cond: Expression): Expression = cond.transform {
    case GreaterThanOrEqual(Narrowed(c), TsMicros(m)) if ok(m) => ge(c, m)
    case GreaterThan(Narrowed(c), TsMicros(m)) if ok(m) => ge(c, m + 1)
    case LessThan(Narrowed(c), TsMicros(m)) if ok(m) => lt(c, m)
    case LessThanOrEqual(Narrowed(c), TsMicros(m)) if ok(m) => lt(c, m + 1)
    case EqualTo(Narrowed(c), TsMicros(m)) if ok(m) => And(ge(c, m), lt(c, m + 1))
    // literal-on-left mirrors
    case GreaterThanOrEqual(TsMicros(m), Narrowed(c)) if ok(m) => lt(c, m + 1)
    case GreaterThan(TsMicros(m), Narrowed(c)) if ok(m) => lt(c, m)
    case LessThan(TsMicros(m), Narrowed(c)) if ok(m) => ge(c, m + 1)
    case LessThanOrEqual(TsMicros(m), Narrowed(c)) if ok(m) => ge(c, m)
    case EqualTo(TsMicros(m), Narrowed(c)) if ok(m) => And(ge(c, m), lt(c, m + 1))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val newCond = rewriteComparisons(cond)
      if (newCond.fastEquals(cond)) f else Filter(newCond, child)
  }
}
