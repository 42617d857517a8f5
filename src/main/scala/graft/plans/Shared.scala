package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationDef, CTERelationRef, LogicalPlan, RepartitionByExpression, UnaryNode, WithCTE}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Plan-local sharing: one returned lazy plan that reads the same
  * subplan more than once computes it once.
  *
  * Catalyst does not dedupe a multiply-referenced subtree, and AQE's
  * exchange reuse only recovers exchanges, so without help every
  * reference re-runs the scan and operators below its first exchange.
  * [[Shared.apply]] turns each shared frame into a CTE definition and
  * every subtree of the result that equals it (`canonicalized`, so a
  * self-join's re-aliased copy matches too) into a reference to it.
  *
  * A deterministic CTE read twice is inlined by the optimizer
  * (`InlineCTE`), which brings the double computation back. The
  * definition is therefore built on [[SharedDef]], a one-node marker
  * that reports itself non-deterministic; the CTE survives, and
  * `ReplaceCTERefWithRepartition` plans each reference as the
  * definition's own repartition exchange, which AQE computes once and
  * reuses (one `ReusedExchange` per extra reference). The marker does
  * nothing at run time: [[SharedDefStrategy]] (injected by
  * GraftExtensions) plans it as its child.
  *
  * The sharing lives and dies with the returned plan: nothing is
  * cached, nothing outlives the action, and two queries never share.
  */
object Shared {

  /** `result` with each of `frames` computed once: every subtree of
    * `result` equal to a frame reads one CTE definition of it. A frame
    * that occurs fewer than twice is left inline. Frames may nest (one
    * built from another); the larger one is matched first. */
  def apply(result: DataFrame, frames: DataFrame*): DataFrame = {
    val plan = result.queryExecution.analyzed
    val defs = frames.map(_.queryExecution.analyzed)
      .distinctBy(_.canonicalized)
      .filter(f => occurrences(plan, f) >= 2)
      .sortBy(_.collect { case p => p }.size) // a definition precedes its readers
      .map(f => (f.canonicalized, f, CTERelationDef.newId))
    if (defs.isEmpty) result
    else {
      def substitute(p: LogicalPlan, skip: Long): LogicalPlan =
        p.transformDownWithSubqueries {
          case sub =>
            defs.find { case (canon, _, id) => id != skip && sub.canonicalized == canon } match {
              case Some((_, _, id)) => CTERelationRef(id, _resolved = true,
                sub.output, sub.isStreaming)
              case None => sub
            }
        }
      val width = result.sparkSession.sessionState.conf.numShufflePartitions
      val cteDefs = defs.map { case (_, f, id) =>
        CTERelationDef(spread(SharedDef(substitute(f, skip = id)), width), id)
      }
      org.apache.spark.sql.graft.bridge.dataFrame(result.sparkSession,
        WithCTE(substitute(plan, skip = -1L), cteDefs))
    }
  }

  /** The exchange every reference reads: hash on the frame's hashable
    * columns into the session's shuffle width. A fixed width, not the
    * rebalance the optimizer would add itself: AQE coalesces a rebalance
    * of a small frame into one partition, and every operator above a
    * reference would then run as a single task. */
  private def spread(plan: LogicalPlan, width: Int): LogicalPlan =
    RepartitionByExpression(
      plan.output.filter(a => RowOrdering.isOrderable(a.dataType)), plan, Some(width))

  private def occurrences(plan: LogicalPlan, frame: LogicalPlan): Int = {
    val canon = frame.canonicalized
    var n = 0
    plan.foreachWithSubqueries(p => if (p.canonicalized == canon) n += 1)
    n
  }
}

/** The marker on top of a shared CTE definition (see [[Shared]]): its
  * only effect is to be non-deterministic, so `InlineCTE` keeps the CTE. */
case class SharedDef(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = child.output
  override def deterministic: Boolean = false
  override protected def withNewChildInternal(newChild: LogicalPlan): SharedDef =
    copy(child = newChild)
}

/** Plans [[SharedDef]] as its child; a no-op for every other node. */
class SharedDefStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SharedDef(child) => planLater(child) :: Nil
    case _ => Nil
  }
}
