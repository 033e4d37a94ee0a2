package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import org.apache.spark.sql.graft.PlanDataset

import graft.plans.TopKPerGroup.TopKPerGroupNode

/** User-facing entry for the custom top-k-per-group physical operator —
  * see [[graft.plans.TopKPerGroup]] for the execution design (bounded
  * per-group heaps with a map-side partial pass; the shuffle carries at
  * most k rows per group per input partition, vs the window spelling's
  * full shuffle + full per-group sort).
  */
object TopK {

  /** First `k` rows of each group under `orderCols` ((name, ascending)
    * pairs, compared lexicographically). Include a unique tie-breaker as
    * the last sort key for fully deterministic output — ties at the k
    * boundary are otherwise resolved arbitrarily (exactly as with
    * `row_number`). Output row order is unspecified.
    *
    * Planned by the strategy `spark.sql.extensions=graft.plans.GraftExtensions`
    * injects (every `GraftSession` carries it). */
  def perGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    require(k >= 1, s"TopK.perGroup: k must be >= 1, got $k")
    require(groupCols.nonEmpty, "TopK.perGroup: need at least one group column")
    require(orderCols.nonEmpty, "TopK.perGroup: need at least one order column")
    val analyzed = PlanDataset.analyzed(df)
    def attr(name: String) = analyzed.output
      .find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"TopK.perGroup: no column '$name' in [${analyzed.output.map(_.name).mkString(", ")}]"))
    val order = orderCols.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    PlanDataset(df.sparkSession, TopKPerGroupNode(groupCols.map(attr), order, k, analyzed))
  }
}
