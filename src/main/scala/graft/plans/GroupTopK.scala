package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator §2.14 exemplar — the (c) tier of the extension preference
  * order: a custom LogicalPlan + SparkStrategy + physical operators for
  * per-group top-k (SURVEY.md §2.6 O3/O4 scale path).
  *
  * Why not the window form: `row_number().over(partitionBy(g).orderBy(o))
  * <= k` must SORT every partition's full data (WindowExec requires child
  * ordering), so top-3-per-key over 100 TB pays an O(n log n) sort and
  * spills. This operator keeps a bounded k-heap per group — O(n log k),
  * no sort, no spill — and, like an aggregate, runs in two phases: a
  * map-side partial pass prunes each input partition to <= k rows per
  * group BEFORE the exchange, so the shuffle moves only survivors
  * (k x groups x partitions upper bound, not n).
  *
  * The plan shape EnsureRequirements produces:
  *   GroupTopKExec(final)            -- ClusteredDistribution(grouping)
  *     +- Exchange hashpartitioning  -- inserted automatically
  *        +- GroupTopKExec(partial)  -- runs on raw scan partitions
  *           +- <child>
  */
final case class GroupTopKNode(
    grouping: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): GroupTopKNode = copy(child = c)
}

object GroupTopKStrategy extends SparkStrategy {
  /** Final-phase selection. The hash final holds its partition's exact
    * RESULT (k rows x co-located groups) on-heap with no spill — optimal
    * while that fits; the sort final streams groups in O(1) memory behind
    * Spark's own external (spilling) SortExec, inserted by
    * EnsureRequirements from the declared child ordering. The sort only
    * ever sees POST-PARTIAL data (<= k x groups x maps rows), so choosing
    * it too eagerly costs little; choosing hash on a group-explosive input
    * costs an executor OOM — hence `auto` falls back to sort as soon as
    * the logical child's row-count estimate (an upper bound on group
    * cardinality) puts k x groups past the conf, and stays hash when
    * stats are absent (toy/test scale).
    * `spark.graft.topk.finalMode`: auto (default) | hash | sort. */
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKNode(g, o, k, child) =>
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val mode = conf.getConfString("spark.graft.topk.finalMode", "auto")
      val sortFallbackRows =
        conf.getConfString("spark.graft.topk.sortFallbackRows", (1L << 26).toString).toLong
      val sortFinal = mode match {
        case "sort" => true
        case "hash" => false
        case _ => child.stats.rowCount.exists(rc => rc * k > sortFallbackRows)
      }
      val partial = GroupTopKExec(g, o, k, partial = true, planLater(child))
      if (sortFinal) GroupTopKSortExec(g, o, k, partial) :: Nil
      else GroupTopKExec(g, o, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Sort-based streaming final phase — the spill-safe fallback for group
  * cardinalities whose k x groups result outgrows executor memory. Declares
  * a (grouping, order) child ordering, so EnsureRequirements plans the
  * exchange plus an external SortExec over the partial phase's pruned
  * output; this node then streams each group's first k rows with O(1)
  * state (current group key + a counter) — the SortAggregate counterpart
  * to [[GroupTopKExec]]'s hash final. */
final case class GroupTopKSortExec(
    grouping: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(grouping))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(grouping.map(SortOrder(_, Ascending)) ++ order)

  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(c: SparkPlan): GroupTopKSortExec = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val groupingExprs = grouping
    val childOutput = child.output
    val limit = k
    child.execute().mapPartitions { rows =>
      val keyProj = UnsafeProjection.create(groupingExprs, childOutput)
      var current: UnsafeRow = null
      var emitted = 0
      rows.filter { row =>
        val key = keyProj(row)
        if (current == null || key != current) { current = key.copy(); emitted = 0 }
        emitted += 1
        emitted <= limit
      }
    }
  }
}

/** Bounded per-group top-k heaps over a partition. `partial = true` runs
  * before the exchange (no distribution requirement, prunes map-side);
  * the final pass requires co-located groups and emits the exact result. */
final case class GroupTopKExec(
    grouping: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution) else Seq(ClusteredDistribution(grouping))

  // row-preserving operator: downstream per-group work (e.g. a ranking
  // window over the <= k survivors) reuses the exchange below us
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def withNewChildInternal(c: SparkPlan): GroupTopKExec = copy(child = c)

  /** Memory contract. The hash FINAL phase holds its partition's exact
    * RESULT (k rows x co-located groups) — the floor for any hash-based
    * exact operator; when group cardinality outgrows that,
    * [[GroupTopKStrategy]] plans [[GroupTopKSortExec]] instead (streaming
    * over an external sort, O(1) state). The PARTIAL phase is
    * memory-bounded regardless: it processes
    * the input in chunks of at most `PartialFlushGroups` distinct groups,
    * draining each chunk's heaps downstream before building the next —
    * partial output is a superset pruning (a group split across chunks
    * just ships up to k rows per chunk), so chunking stays exactly
    * correct: the final phase re-prunes. */
  private def partialFlushGroups: Int =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.topk.partialFlushGroups", (1 << 16).toString).toInt

  override protected def doExecute(): RDD[InternalRow] = {
    val groupingExprs = grouping
    val orderExprs = order
    val limit = k
    val childOutput = child.output
    val isPartial = partial
    val flushAt = if (partial) partialFlushGroups else Int.MaxValue
    child.execute().mapPartitions { rows =>
      val keyProj = UnsafeProjection.create(groupingExprs, childOutput)
      // interpreted ordering: comparisons run k-bounded per row, off the
      // codegen hot path; ascending in `order` = better
      val ord: Ordering[InternalRow] =
        RowOrdering.create(orderExprs.map(BindReferences.bindReference(_, childOutput)), Nil)

      // consume up to `flushAt` distinct groups' worth of input, return the
      // pruned rows; caller drains before the next chunk builds, so at most
      // one chunk's heaps are alive at a time
      def buildChunk(): Iterator[InternalRow] = {
        val heaps = scala.collection.mutable.HashMap.empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
        var full = false
        while (rows.hasNext && !full) {
          val row = rows.next()
          val key = keyProj(row)
          val heap = heaps.get(key) match {
            case Some(h) => h
            case None =>
              val h = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord) // max-heap: head = worst kept
              heaps.put(key.copy(), h)
              h
          }
          if (heap.size < limit) heap += row.copy()
          else if (ord.compare(row, heap.head) < 0) { heap.dequeue(); heap += row.copy() }
          if (isPartial && heaps.size >= flushAt) full = true
        }
        // per-group rows; best-last order within a group is irrelevant
        heaps.valuesIterator.flatMap(_.dequeueAll.iterator)
      }

      new Iterator[InternalRow] {
        private var drain: Iterator[InternalRow] = Iterator.empty
        def hasNext: Boolean = {
          while (!drain.hasNext && rows.hasNext) drain = buildChunk()
          drain.hasNext
        }
        def next(): InternalRow = { hasNext; drain.next() }
      }
    }
  }
}

/** Optimizer rule: rewrite the ubiquitous hand-written per-group top-k
  * pattern
  *
  * {{{ df.withColumn("rn", row_number().over(W)).filter($"rn" <= k) }}}
  *
  * into `Window(row_number) over GroupTopKNode(k)` — the k>1 companion to
  * [[TopOnePerKeyRule]] (which rewrites k=1 to min_by/max_by). The heap
  * operator prunes to k per group map-side with no sort; the retained
  * Window then ranks only the <= k survivors per group (its sort is k-row
  * tiny and it reuses the prune's exchange), and the filter is dropped
  * because rn <= k holds by construction. Exactness: the heap uses the
  * SAME SortOrder semantics as the window sort (incl. null ordering and
  * mixed directions), so the kept rows and their ranks are identical
  * whenever the order is total within groups; with ties at the boundary
  * both forms are partitioning-dependent.
  *
  * Guards (bail -> leave the plan untouched): sole row_number() window,
  * single `rn <= k` / `k >= rn` / `rn < k+1` / `k > rn` condition,
  * non-empty DETERMINISTIC partition and order specs (GroupTopKExec
  * re-evaluates keys per comparison/phase, so a nondeterministic key
  * would diverge from the window's evaluate-once semantics), and
  * k <= spark.graft.topk.rewriteMaxK (default 1000 — the automatic
  * rewrite stays conservative because the hash final phase's memory is
  * proportional to its partition's k x groups RESULT; past the
  * stats-estimated spark.graft.topk.sortFallbackRows the strategy swaps
  * in the spill-safe [[GroupTopKSortExec]] final instead).
  *
  * Spark 4's built-in InferWindowGroupLimit may have already inserted a
  * WindowGroupLimit under the window (it runs in an earlier batch when
  * this rule is session-installed via extraOptimizations): that node is
  * REPLACED, not stacked — its per-partition sort is exactly the cost
  * the heap operator avoids. */
object TopKPerKeyRule extends Rule[LogicalPlan] {

  private def rewriteMaxK: Int =
    // malformed conf falls back to the default rather than crashing every
    // window query during optimization
    scala.util.Try(conf.getConfString("spark.graft.topk.rewriteMaxK", "1000").toInt)
      .getOrElse(1000)

  private def keptK(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn && k >= 1 => Some(k)
    case GreaterThanOrEqual(IntegerLiteral(k), a: AttributeReference) if a.exprId == rn && k >= 1 => Some(k)
    case LessThan(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn && k >= 2 => Some(k - 1)
    case GreaterThan(IntegerLiteral(k), a: AttributeReference) if a.exprId == rn && k >= 2 => Some(k - 1)
    // rn = 1 reaches here only when TopOnePerKeyRule's stricter guards
    // (non-null uniform-direction keys) bailed — the heap form has exact
    // window semantics there
    case EqualTo(a: AttributeReference, IntegerLiteral(1)) if a.exprId == rn => Some(1)
    case EqualTo(IntegerLiteral(1), a: AttributeReference) if a.exprId == rn => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: logical.Window)
        if w.partitionSpec.nonEmpty && w.orderSpec.nonEmpty &&
          (w.partitionSpec ++ w.orderSpec).forall(_.deterministic) =>
      WindowPatterns.soleRowNumber(w.windowExpressions) match {
        case Some(rn) =>
          keptK(cond, rn.exprId) match {
            case Some(k) if k <= rewriteMaxK =>
              // strip an already-inferred same-spec WindowGroupLimit
              // instead of nesting the heap under its sorts
              val base = WindowPatterns.stripSameSpecGroupLimit(w, k)
              base match {
                // already heap-pruned at least as tightly by an explicit
                // GroupTopK.topK with the same spec (the hand-composed
                // prune + rank-window pattern the operators use): a second
                // heap pair would be pure overhead — leave the plan alone
                case g: GroupTopKNode
                    if g.k <= k &&
                      g.grouping.length == w.partitionSpec.length &&
                      g.grouping.zip(w.partitionSpec).forall { case (a, b) => a.semanticEquals(b) } &&
                      g.order.length == w.orderSpec.length &&
                      g.order.zip(w.orderSpec).forall { case (a, b) => a.semanticEquals(b) } =>
                  f
                case _ =>
                  w.copy(child = GroupTopKNode(w.partitionSpec, w.orderSpec, k, base))
              }
            case _ => f
          }
        case None => f
      }
  }
}

object GroupTopK {
  /** Top `k` rows per group by `orderBy` (first = best). Output columns =
    * input columns; no global ordering promised (add your own orderBy).
    *
    * `orderBy` MUST be a total order within a group (include a unique
    * tiebreaker column): rows tied at the k boundary otherwise survive by
    * arrival order, which is partitioning-dependent — nondeterministic
    * output that this repo's oracle-parity contract forbids.
    *
    * The session must plan [[GroupTopKNode]]: build it with
    * `spark.sql.extensions=graft.plans.GraftExtensions` (as
    * `graft.GraftSession.local` does), which injects [[GroupTopKStrategy]]. */
  def topK(df: DataFrame, groupCols: Seq[String], orderBy: Seq[Column], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val classicSpark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val bridge = org.apache.spark.sql.classic.GraftPlanBridge
    require(bridge.hasStrategy(classicSpark, GroupTopKStrategy),
      "GroupTopK.topK: the session has no GroupTopKStrategy; build it with " +
        "spark.sql.extensions=graft.plans.GraftExtensions")
    val plan = df.queryExecution.analyzed
    // honor the session's spark.sql.caseSensitive; fail on ambiguity
    // instead of silently binding the first match
    val res = bridge.resolver(classicSpark)
    def resolve(name: String): Attribute =
      plan.output.filter(a => res(a.name, name)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name)}")
        case many => throw new IllegalArgumentException(
          s"ambiguous column $name: matches ${many.map(_.name)}")
      }
    val grouping = groupCols.map(resolve)
    val sortOrders = orderBy.map(c => bridge.expr(classicSpark, c)).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }.map(so => so.transformUp {
      case u: UnresolvedAttribute => resolve(u.name)
    }.asInstanceOf[SortOrder])
    bridge.ofRows(classicSpark, GroupTopKNode(grouping, sortOrders, k, plan))
  }
}
