package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.PlanDataset
import org.apache.spark.sql.types.LongType

import graft.plans.IntervalJoin.IntervalJoinNode

/** User-facing entry for the broadcast interval-lookup join — see
  * [[graft.plans.IntervalJoin]] for the execution design (sorted
  * disjoint-interval broadcast + per-row binary search; O(n log m) where
  * Spark's BroadcastNestedLoopJoin spends O(n·m)).
  */
object IntervalLookup {

  /** Inner join of `probe` rows to the single interval of `intervals`
    * containing `pointCol` (`lo <= point < hi`, all LongType). Intervals
    * must be pairwise disjoint — the exec validates and refuses
    * otherwise. Column names must not collide across the two sides.
    *
    * Planned by the strategy `spark.sql.extensions=graft.plans.GraftExtensions`
    * injects (every `GraftSession` carries it). */
  def join(
      probe: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      loCol: String,
      hiCol: String): DataFrame = {
    val pa = PlanDataset.analyzed(probe)
    val ia = PlanDataset.analyzed(intervals)
    val dup = pa.output.map(_.name).toSet.intersect(ia.output.map(_.name).toSet)
    require(dup.isEmpty,
      s"IntervalLookup.join: column names collide across sides: ${dup.mkString(", ")}")
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"IntervalLookup.join: no column '$name' in [${plan.output.map(_.name).mkString(", ")}]"))
    val point = attr(pa, pointCol)
    val lo = attr(ia, loCol)
    val hi = attr(ia, hiCol)
    Seq(point, lo, hi).foreach { a =>
      require(a.dataType == LongType,
        s"IntervalLookup.join: '${a.name}' must be BIGINT, got ${a.dataType.sql} " +
          "(quantize float boundaries first)")
    }
    PlanDataset(probe.sparkSession, IntervalJoinNode(point, lo, hi, pa, ia))
  }
}
