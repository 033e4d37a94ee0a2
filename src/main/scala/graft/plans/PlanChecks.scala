package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Physical-plan inspection — lets tests (and operators) assert the plan
  * properties the 100 TB design depends on: filters reaching the parquet
  * scan, small sides broadcast, shuffle counts bounded. SURVEY §4: the
  * engine needs no custom Catalyst rules, but it must VERIFY Catalyst did
  * what the declarative plan allows. */
object PlanChecks {

  /** The executed plan tree, flattened. AQE wraps materialized exchanges in
    * leaf QueryStageExec nodes (empty `children`) — unwrap those, the
    * adaptive root, and reused exchanges, or the traversal sees nothing
    * below the first stage boundary. */
  def flatten(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case r: ReusedExchangeExec => r +: walk(r.child)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Data-source filters pushed into parquet scans (flattened, readable). */
  def pushedFilters(df: DataFrame): Seq[String] =
    flatten(df).collect { case s: FileSourceScanExec =>
      s.dataFilters.map(_.sql)
    }.flatten

  /** Columns each parquet scan actually reads — column-pruning check. */
  def scanColumns(df: DataFrame): Seq[Seq[String]] =
    flatten(df).collect { case s: FileSourceScanExec => s.output.map(_.name).toSeq }

  def broadcastJoinCount(df: DataFrame): Int =
    flatten(df).count { case _: BroadcastHashJoinExec => true; case _ => false }

  def broadcastExchangeCount(df: DataFrame): Int =
    flatten(df).count { case _: BroadcastExchangeLike => true; case _ => false }

  /** Shuffle exchanges in the plan — the number that matters at 100 TB.
    * Reused exchanges count once (the work happens once). */
  def shuffleCount(df: DataFrame): Int =
    flatten(df).distinct.count { case _: ShuffleExchangeLike => true; case _ => false }

  /** True when at least one scan pushes a filter mentioning `column`. */
  def filterPushedFor(df: DataFrame, column: String): Boolean =
    pushedFilters(df).exists(_.contains(column))

  /** Each parquet scan's "number of output rows" metric — call AFTER an
    * action has run the plan. The semantic-prefilter contract asserts these
    * shrink when a per-dataset filter prunes the fact scan. */
  def scanOutputRowCounts(df: DataFrame): Seq[Long] =
    flatten(df).collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }

  /** Occurrences of a substring in the executed-plan text — the
    * expression-duplication guard. A projected expensive expression should
    * appear EXACTLY ONCE; predicate pushdown or InferFiltersFromGenerate
    * silently inlining it into a Filter multiplies the count (and the
    * runtime — q78 went 60× slower that way). */
  def exprOccurrences(df: DataFrame, needle: String): Int =
    java.util.regex.Pattern.quote(needle).r // literal: plan text and needles are full of regex metachars
      .findAllIn(df.queryExecution.executedPlan.toString).length

  /** Partition filters on each scan — directory-level pruning for
    * Hive-partitioned layouts (distinct from data filters: these cut IO
    * before any file is opened). */
  def partitionFilters(df: DataFrame): Seq[String] =
    flatten(df).collect { case s: FileSourceScanExec =>
      s.partitionFilters.map(_.sql)
    }.flatten
}
