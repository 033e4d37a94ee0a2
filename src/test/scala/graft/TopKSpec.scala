package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TopK
import graft.plans.{PlanChecks, TopKPerGroup}

/** The custom top-k-per-group physical operator (logical node + strategy +
  * bounded-heap exec) — q179. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def fuzz = {
    val rnd = new scala.util.Random(11)
    (1 to 2000).map(i => (i.toLong, s"g${rnd.nextInt(17)}", rnd.nextInt(1000).toLong))
      .toDF("id", "g", "v")
  }

  test("matches the window row_number spelling under a total order") {
    val df = viaParquet(fuzz)
    val got = TopK.perGroup(df, Seq("g"), Seq(("v", false), ("id", true)), k = 5)
      .select("id", "g", "v").as[(Long, String, Long)].collect().toSet
    val w = Window.partitionBy($"g").orderBy($"v".desc, $"id".asc)
    val want = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
      .select("id", "g", "v").as[(Long, String, Long)].collect().toSet
    assert(got == want)
    // ascending order and k larger than some groups
    val gotAsc = TopK.perGroup(df, Seq("g"), Seq(("v", true), ("id", true)), k = 200)
      .select("id").as[Long].collect().toSet
    val wAsc = Window.partitionBy($"g").orderBy($"v".asc, $"id".asc)
    val wantAsc = df.withColumn("rn", row_number().over(wAsc)).filter($"rn" <= 200)
      .select("id").as[Long].collect().toSet
    assert(gotAsc == wantAsc)
  }

  test("plan: two heap stages, one exchange, NO sort") {
    val df = viaParquet(fuzz)
    val plan = TopK.perGroup(df, Seq("g"), Seq(("v", false), ("id", true)), k = 3)
    val nodes = PlanChecks.flatten(plan)
    assert(nodes.count(_.isInstanceOf[TopKPerGroup.TopKPerGroupExec]) == 2,
      "partial + final heap stages")
    assert(PlanChecks.shuffleCount(plan) == 1, "exactly one exchange between the stages")
    assert(!nodes.exists(_.isInstanceOf[SortExec]),
      "the whole point: no per-group sort anywhere")
    // the window spelling, for contrast, sorts
    val w = Window.partitionBy($"g").orderBy($"v".desc)
    val windowPlan = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
    assert(PlanChecks.flatten(windowPlan).exists(_.isInstanceOf[SortExec]))
  }

  test("partial stage bounds what the exchange carries") {
    // 1 group, 8 input partitions, k=2: the partial pass may forward at
    // most 8×2 rows into the exchange; the final stage reduces to 2
    val df = viaParquet((1L to 10000L).map(i => ("only", i)).toDF("g", "v")).repartition(8)
    val got = TopK.perGroup(df, Seq("g"), Seq(("v", true)), k = 2)
      .select("v").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L))
  }

  test("is registered via GraftExtensions and survives multiple groups/order keys") {
    // SparkSpec's session carries spark.sql.extensions=GraftExtensions, so
    // the strategy must already be present without the extraStrategies patch
    assert(spark.sessionState.planner.strategies
      .exists(_.isInstanceOf[TopKPerGroup.TopKStrategy]))
    val df = Seq(
      ("a", 1L, 10L, 100L), ("a", 1L, 10L, 50L), ("a", 2L, 5L, 10L),
      ("b", 1L, 1L, 1L)).toDF("g1", "g2", "v", "id")
    val got = TopK.perGroup(df, Seq("g1", "g2"), Seq(("v", false), ("id", true)), k = 1)
      .select("g1", "g2", "id").as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 1L, 50L), ("a", 2L, 10L), ("b", 1L, 1L)))
  }

  test("optimizer rule: group-key filters push below the node into the scan") {
    val df = viaParquet(fuzz)
    val plan = TopK.perGroup(df, Seq("g"), Seq(("v", false), ("id", true)), k = 3)
      .filter($"g" === "g3")
    // the custom rule moves the filter under TopKPerGroupNode; Spark's own
    // pushdown then carries it into the parquet scan
    assert(PlanChecks.filterPushedFor(plan, "g"),
      "group filter must reach PushedFilters through the custom node")
    // and semantics are unchanged vs filtering first
    val direct = TopK.perGroup(df.filter($"g" === "g3"), Seq("g"),
      Seq(("v", false), ("id", true)), k = 3)
    assert(sortedRows(plan) == sortedRows(direct))
  }

  test("optimizer rule: ORDER-column filters must NOT move below the node") {
    val df = viaParquet(fuzz)
    val after = TopK.perGroup(df, Seq("g"), Seq(("v", false), ("id", true)), k = 3)
      .filter($"v" < 500)
    assert(!PlanChecks.filterPushedFor(after, "v"),
      "a value filter below top-k would change which rows are the top k")
    // and the two orders of operations genuinely differ on this data —
    // the semantic reason the rule must not fire
    val before = TopK.perGroup(df.filter($"v" < 500), Seq("g"),
      Seq(("v", false), ("id", true)), k = 3)
    assert(sortedRows(after) != sortedRows(before),
      "fuzz data should make filter-then-topk differ from topk-then-filter")
  }

  test("refusals: bad k, empty groups, unknown column") {
    val df = Seq(("a", 1L)).toDF("g", "v")
    intercept[IllegalArgumentException] { TopK.perGroup(df, Seq("g"), Seq(("v", true)), 0) }
    intercept[IllegalArgumentException] { TopK.perGroup(df, Nil, Seq(("v", true)), 1) }
    intercept[IllegalArgumentException] { TopK.perGroup(df, Seq("nope"), Seq(("v", true)), 1) }
  }

  // ---------------------------------------------------- interval lookup

  test("interval-lookup join equals the predicate join; edges and nulls handled") {
    import spark.implicits._
    val probe = Seq(Some(-5L), Some(0L), Some(9L), Some(10L), Some(15L), Some(19L),
      Some(20L), Some(25L), Some(30L), Some(99L), None)
      .toDF("p")
    val iv = Seq(("a", 0L, 10L), ("b", 10L, 20L), ("c", 25L, 30L)).toDF("name", "lo", "hi")
    val got = graft.operators.IntervalLookup.join(probe, iv, "p", "lo", "hi")
    val expected = probe.join(iv, col("p") >= col("lo") && col("p") < col("hi"))
    assert(sortedRows(got) == sortedRows(expected))
    // lo inclusive, hi exclusive, gaps and out-of-range drop, null drops
    assert(got.count() == 6) // 0,9 → a; 10,15,19 → b; 25 → c
  }

  test("interval-lookup join plans the custom exec, not a nested-loop join") {
    import spark.implicits._
    val probe = viaParquet(Seq(1L, 7L, 12L).toDF("p"))
    val iv = Seq(("a", 0L, 10L)).toDF("name", "lo", "hi")
    val df = graft.operators.IntervalLookup.join(probe, iv, "p", "lo", "hi")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("IntervalLookupJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(df.count() == 2)
  }

  test("interval-lookup join refuses overlapping, inverted, and non-long intervals") {
    import spark.implicits._
    val probe = Seq(1L).toDF("p")
    val overlap = Seq(("a", 0L, 10L), ("b", 5L, 15L)).toDF("name", "lo", "hi")
    val e1 = intercept[Exception](
      graft.operators.IntervalLookup.join(probe, overlap, "p", "lo", "hi").collect())
    assert(e1.getMessage.contains("overlapping"))
    val inverted = Seq(("a", 10L, 10L)).toDF("name", "lo", "hi")
    val e2 = intercept[Exception](
      graft.operators.IntervalLookup.join(probe, inverted, "p", "lo", "hi").collect())
    assert(e2.getMessage.contains("inverted"))
    val typed = Seq(("a", 0.5, 10.0)).toDF("name", "lo", "hi")
    assertThrows[IllegalArgumentException](
      graft.operators.IntervalLookup.join(probe, typed, "p", "lo", "hi"))
    val collide = Seq(("a", 0L, 10L)).toDF("p", "lo", "hi")
    assertThrows[IllegalArgumentException](
      graft.operators.IntervalLookup.join(probe, collide, "p", "lo", "hi"))
  }

  test("interval-lookup join works through the GraftExtensions-registered strategy from SQL-built frames") {
    import spark.implicits._
    // empty intervals: every probe row drops, no crash
    val probe = Seq(1L, 2L).toDF("p")
    val none = Seq.empty[(String, Long, Long)].toDF("name", "lo", "hi")
    assert(graft.operators.IntervalLookup.join(probe, none, "p", "lo", "hi").count() == 0)
  }


  // ------------------------------------------- window → TopK rewrite rule

  private def withRewriteConf[T](on: Boolean)(body: => T): T = {
    val key = "spark.graft.topk.rewriteWindow"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def windowTop2(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2).select(col("g"), col("id"))
  }

  test("rewriteWindow on: row_number()<=k plans as TopKPerGroupExec with identical values") {
    import spark.implicits._
    val df = viaParquet((1L to 200L).map(i => (i % 7, i % 31, i)).toDF("g", "v", "id"))
    val (planOn, rowsOn) = withRewriteConf(true) {
      val q = windowTop2(df)
      (q.queryExecution.executedPlan.toString, sortedRows(q))
    }
    val (planOff, rowsOff) = withRewriteConf(false) {
      val q = windowTop2(df)
      (q.queryExecution.executedPlan.toString, sortedRows(q))
    }
    assert(planOn.contains("TopKPerGroup") && !planOn.contains("Window"), planOn)
    assert(!planOff.contains("TopKPerGroup") && planOff.contains("Window"), planOff)
    assert(rowsOn == rowsOff) // total order (v, id) → tie-safe, values identical
  }

  test("rewriteWindow negative cases: rank(), kept rank column, conf off") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = viaParquet(Seq((1L, 5L, 1L), (1L, 3L, 2L)).toDF("g", "v", "id"))
    withRewriteConf(true) {
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
      // rank() admits ties — must not rewrite
      val viaRank = df.withColumn("rn", rank().over(w)).filter(col("rn") <= 2)
        .select(col("g"), col("id"))
      assert(!viaRank.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      // rank column kept in the output — TopK cannot produce it, must not rewrite
      val kept = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      assert(!kept.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      // rn = 1 form rewrites with k = 1
      val argmax = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("g"), col("id"))
      assert(argmax.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      assert(argmax.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 1L)))
    }
  }

  test("the session carries every rule TopK, IntervalLookup and MaterializedView plan through") {
    // the operators install nothing themselves: GraftExtensions is the only source
    val strategies = spark.sessionState.planner.strategies
    assert(strategies.exists(_.isInstanceOf[TopKPerGroup.TopKStrategy]))
    assert(strategies.exists(_.isInstanceOf[graft.plans.IntervalJoin.IntervalJoinStrategy]))
    val rules = spark.sessionState.optimizer.batches.flatMap(_.rules)
    assert(rules.contains(TopKPerGroup.PushFilterThroughTopK))
    assert(rules.contains(graft.plans.MaterializedView.RewriteToMv))
    assert(spark.experimental.extraStrategies.isEmpty && spark.experimental.extraOptimizations.isEmpty)
  }
}
