package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, FrameLessOffsetWindowFunction, NthValue, RankLike, RowNumberLike, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, BitAggregate, CentralMomentAgg, Count, Covariance, First, Last, Max, MaxMinBy, Min, PearsonCorrelation, Product => ProductAgg, Sum}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, ExpandExec, FilterExec, ProjectExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** AQE query-stage-prep rule: compact a SMALL final global sort into a
  * single-partition local sort (round 14, guide §2.4 "remove shuffles
  * outright" made adaptive).
  *
  * A global `orderBy` plans as `Sort(global) ← Exchange(range)`, and the
  * range exchange costs a sampling pass over the child (to compute the
  * partition bounds), a full shuffle write/read, and an extra AQE stage
  * round-trip — two extra jobs per query. When the runtime size of the
  * sort input (known exactly once the child query stage materializes) is
  * at most ONE advisory shuffle partition, AQE would coalesce the
  * post-sort read to a single partition anyway; sorting that single
  * partition directly — `Sort(local) ← Coalesce(1)` — produces the
  * identical total order with zero extra passes.
  *
  * Scale behavior: the trigger is strictly size-based at runtime, so at
  * 100 TB a census-bounded readout (the shape this engine's query
  * surface ends in ~600 times) still compacts, while any sort whose
  * input outgrows one advisory partition keeps the sampled range
  * exchange — the correct distributed sort. Threshold:
  * `spark.graft.compactSortBytes`, default =
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB).
  *
  * The rewrite fires only while the plan still holds the un-materialized
  * `ShuffleExchangeExec` (prep rules run on each AQE re-plan, before the
  * exchange is wrapped into a stage) and only when the size of the
  * exchange input is KNOWN from materialized stage statistics reached
  * through size-preserving-or-shrinking operators. It is applied only
  * along the result-stage spine (projections above the sort), never
  * under joins/generators, so a mid-plan sort feeding a size-sensitive
  * parent is left alone.
  */
case class CompactSmallSort(session: SparkSession) extends Rule[SparkPlan] {

  // byteStringAsBytes handles bare numbers and every case-insensitive
  // unit suffix ('b', 'kb', 'mb', ...) — the r14 endsWith("b") special
  // case turned '64mb' into '64m'.toLong and failed planning for the
  // whole session (r14 ADVICE, medium).
  private def threshold: Long =
    org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      session.conf.getOption("spark.graft.compactSortBytes")
        .getOrElse(session.sessionState.conf.getConfString(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")))

  /** Size of `p`'s output, when derivable from a materialized stage
    * below through operators that cannot grow the data (projection of
    * existing columns, filter, aggregation, sort, AQE shuffle read).
    * Projections CAN widen rows (array building) — tolerated: the
    * threshold is one advisory partition, so even a few× widening stays
    * a trivially single-task sort.
    */
  private def knownSize(p: SparkPlan): Option[Long] = p match {
    case q: QueryStageExec if q.isMaterialized =>
      Some(q.getRuntimeStatistics.sizeInBytes.toLong)
    case r: AQEShuffleReadExec => knownSize(r.child)
    case pr: ProjectExec => knownSize(pr.child)
    case f: FilterExec => knownSize(f.child)
    case a: BaseAggregateExec => knownSize(a.child)
    case s: SortExec => knownSize(s.child)
    case c: CoalesceExec => knownSize(c.child)
    case w: WindowExec
        if w.windowExpression.flatMap(_.collect {
          case we: WindowExpression => we.windowFunction
        }).forall(rowSized) => knownSize(w.child)
    case e: ExpandExec =>
      // rollup/cube: one output row per projection per input row
      knownSize(e.child).map(_ * math.max(1, e.projections.size))
    case u: UnionExec =>
      val sizes = u.children.map(knownSize)
      if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
    // the scalar-readout idiom `df.crossJoin(broadcast(stats1row))`:
    // a broadcast join against a materialized ≤1-row build side cannot
    // grow the stream side's row count
    case j: BroadcastHashJoinExec =>
      joinThrough(j.left, j.right)
    case j: BroadcastNestedLoopJoinExec =>
      joinThrough(j.left, j.right)
    case _ => None
  }

  /** Window functions that add one fixed-size value (or a copy of one
    * input value) per input row: ranking, offset, and arithmetic or
    * value-picking aggregates. Anything else — collect_list, listagg,
    * sketches, histograms, percentile arrays — can grow each row by
    * O(frame) over an unbounded frame, so a stage measuring under the
    * threshold could compact a vastly larger sort into one task; the
    * rule then declines (a whitelist, so a new aggregate is excluded
    * until it is listed).
    */
  private def rowSized(f: Expression): Boolean = f match {
    case _: RowNumberLike | _: RankLike | _: FrameLessOffsetWindowFunction |
        _: NthValue => true
    case a: AggregateExpression => a.aggregateFunction match {
      case _: Sum | _: Count | _: Average | _: Min | _: Max | _: First |
          _: Last | _: MaxMinBy | _: ProductAgg | _: BitAggregate |
          _: CentralMomentAgg | _: Covariance | _: PearsonCorrelation => true
      case _ => false
    }
    case _ => false
  }

  private def joinThrough(l: SparkPlan, r: SparkPlan): Option[Long] = {
    def oneRow(p: SparkPlan): Boolean = p match {
      case q: QueryStageExec if q.isMaterialized =>
        q.getRuntimeStatistics.rowCount.exists(_ <= 1)
      case _ => false
    }
    if (oneRow(r)) knownSize(l)
    else if (oneRow(l)) knownSize(r)
    else None
  }

  /** Rewrite only along the top-of-plan spine. */
  private def rewriteTop(p: SparkPlan, limit: Long): SparkPlan = p match {
    case pr: ProjectExec =>
      pr.withNewChildren(Seq(rewriteTop(pr.child, limit)))
    case s @ SortExec(order, true, x: ShuffleExchangeExec, _)
        if x.outputPartitioning.isInstanceOf[RangePartitioning] =>
      knownSize(x.child) match {
        case Some(sz) if sz <= limit =>
          SortExec(order, global = false, CoalesceExec(1, x.child))
        case _ => s
      }
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan =
    if (!session.sessionState.conf.adaptiveExecutionEnabled) plan
    else rewriteTop(plan, threshold)
}
