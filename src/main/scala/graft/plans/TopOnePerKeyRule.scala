package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the `row_number() = 1` top-one-per-key pattern
  * into a min_by/max_by aggregation (SURVEY.md §4 preference order item (c):
  * whole-operator semantics as a Catalyst Rule registered through
  * SparkSessionExtensions).
  *
  * The window form sorts every partition of every group
  * (Exchange -> Sort -> Window -> Filter); the aggregate form is one
  * exchange with map-side partial aggregation and no sort — the 100 TB
  * shape (see Events.lastWins, value-equality proven in EventsSpec). This
  * rule makes the optimizer apply that rewrite automatically to the
  * ubiquitous hand-written pattern:
  *
  * {{{ df.withColumn("rn", row_number().over(W)).filter($"rn" === 1) }}}
  *
  * Guards (bail -> leave the plan untouched):
  *  - the window function is exactly one row_number() (rank/dense_rank keep
  *    ties, an aggregate keeps one row — not equivalent);
  *  - the filter keeps exactly rank 1 (`rn = 1` / `1 = rn` / `rn <= 1`);
  *  - every order key is non-nullable and all directions agree: ascending
  *    -> MinBy, descending -> MaxBy. NULL order keys would diverge
  *    (row_number places nulls per null-ordering; min_by/max_by skip null
  *    ordering keys), and mixed directions have no single struct ordering;
  *  - the rank attribute may still be referenced above the filter: it is
  *    re-bound to literal 1 (true by construction for the kept rows).
  *
  * Install: `GraftExtensions.install(builder)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
/** Window-pattern extractors shared by [[TopOnePerKeyRule]] and
  * [[TopKPerKeyRule]] — ONE definition so the two rules can never drift
  * on what counts as a rewritable row_number window. */
private[plans] object WindowPatterns {
  /** The single row_number window expression, if that is all the Window
    * node computes. */
  def soleRowNumber(windowExpressions: Seq[NamedExpression]): Option[Alias] =
    windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)) =>
        Some(a)
      case _ => None
    }

  /** Strip an InferWindowGroupLimit-inserted node below `w` (it runs in an
    * earlier batch when these rules are session-installed) so a rewrite
    * replaces its per-partition sorts instead of nesting under them. Only
    * a SAME-spec WGL keeping at least `k` rows per group is removable —
    * a tighter limit would mean the strip widens the result. */
  def stripSameSpecGroupLimit(w: Window, k: Int): LogicalPlan = w.child match {
    case wgl: WindowGroupLimit
        if wgl.partitionSpec == w.partitionSpec && wgl.orderSpec == w.orderSpec &&
          wgl.limit >= k =>
      wgl.child
    case c => c
  }
}

object TopOnePerKeyRule extends Rule[LogicalPlan] {

  private def keepsRankOne(cond: Expression, rn: ExprId): Boolean = cond match {
    case EqualTo(a: AttributeReference, Literal(1, _)) => a.exprId == rn
    case EqualTo(Literal(1, _), a: AttributeReference) => a.exprId == rn
    case LessThanOrEqual(a: AttributeReference, Literal(1, _)) => a.exprId == rn
    // mirrored/strict spellings of the same predicate
    case GreaterThanOrEqual(Literal(1, _), a: AttributeReference) => a.exprId == rn
    case LessThan(a: AttributeReference, Literal(2, _)) => a.exprId == rn
    case GreaterThan(Literal(2, _), a: AttributeReference) => a.exprId == rn
    case _ => false
  }

  private def soleRowNumber(w: Window): Option[Alias] =
    WindowPatterns.soleRowNumber(w.windowExpressions)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window) =>
      soleRowNumber(w) match {
        case Some(rn) if keepsRankOne(cond, rn.exprId) =>
          buildReplacement(w, rn).getOrElse(f)
        case _ => f
      }
    case f @ Filter(cond, p @ Project(projList, w: Window)) if p.projectList.forall {
        case _: AttributeReference => true
        case _: Alias => false
        case _ => false
      } =>
      soleRowNumber(w) match {
        case Some(rn) if keepsRankOne(cond, rn.exprId) =>
          buildReplacement(w, rn).map(r => Project(projList, r)).getOrElse(f)
        case _ => f
      }
  }

  /** Aggregate per partition key + Project restoring original attribute
    * ids; None when a guard fails. */
  private def buildReplacement(w: Window, rnAlias: Alias): Option[LogicalPlan] = {
    val orderKeys = w.windowExpressions.head.collectFirst {
      case Alias(WindowExpression(_, spec), _) => spec.orderSpec
    }.getOrElse(Seq.empty)
    if (orderKeys.isEmpty) return None
    if (orderKeys.exists(_.child.nullable)) return None
    val directions = orderKeys.map(_.direction).distinct
    if (directions.length != 1) return None
    if (w.partitionSpec.isEmpty || !w.partitionSpec.forall(_.isInstanceOf[AttributeReference]))
      return None

    // a built-in InferWindowGroupLimit may already sit below: strip it —
    // the aggregate needs no pre-sorted pre-limit (any limit >= 1 keeps
    // the top-1 row, so k = 1 here)
    val base = WindowPatterns.stripSameSpecGroupLimit(w, 1)
    val payload = CreateStruct(base.output)
    val ord = CreateStruct(orderKeys.map(_.child))
    val pick = directions.head match {
      case Ascending => MinBy(payload, ord)
      case Descending => MaxBy(payload, ord)
      case _ => return None
    }
    val row = Alias(AggregateExpression(pick, Complete, isDistinct = false), "__top1")()
    val agg = Aggregate(w.partitionSpec, w.partitionSpec.map(_.asInstanceOf[AttributeReference]) :+ row, base)
    val rebuilt = w.child.output.zipWithIndex.map { case (attr, i) =>
      Alias(GetStructField(row.toAttribute, i, Some(attr.name)), attr.name)(exprId = attr.exprId)
    }
    val rnOut = Alias(Literal(1), rnAlias.name)(exprId = rnAlias.exprId)
    Some(Project(rebuilt :+ rnOut, agg))
  }
}

/** SparkSessionExtensions entry point:
  * `.withExtensions(GraftExtensions.install)` or config
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => TopOnePerKeyRule)
    // k>1 companion: row_number<=k filters become heap top-k (the rule
    // runs after TopOnePerKeyRule, which claims the k=1 cases it can)
    ext.injectOptimizerRule(_ => TopKPerKeyRule)
    // deterministic UDFs over all-literal args evaluate once at plan time
    // instead of once per row (r15 — see FoldConstantUdfRule)
    ext.injectOptimizerRule(_ => FoldConstantUdfRule)
    // whole-operator §2.14 exemplar; the strategy only matches
    // GroupTopKNode, so injecting it is inert for all other plans. This is
    // the one place the rules and the strategy are wired: GroupTopK.topK
    // requires a session built with these extensions
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
  }
}

object GraftExtensions {
  val install: SparkSessionExtensions => Unit = new GraftExtensions()(_)
}
