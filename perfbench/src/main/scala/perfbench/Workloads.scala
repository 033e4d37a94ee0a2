package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.query.{Json => QueryJson, Submitter}
import graft.query.Models.ProjectQuery
import graft.registry.Registry
import graft.sources.Writers

/** One timed operation: its time, whether it succeeded and passed its
  * output check, whether the result cache served it, and how many fact
  * rows its result covers. */
final case class Op(seconds: Double, ok: Boolean, hit: Boolean, rows: Long)

/** What a workload needs from the run: the session, the tracer and a
  * scratch directory inside the checkout. */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: Path, seed: Long)

/** A closed-loop workload: one client, the next query after the previous
  * one completed. Queries go in as JSON documents through the public API
  * (`Json.parseProjectQuery`, a fresh `Submitter` per query, as each CLI
  * invocation makes one, `Writers`). */
trait Workload {
  def ctx: Ctx
  protected def layout: Gen.Layout
  /** One set-up: generate the inputs and register them, validation on. */
  def register(root: String): Registry = layout.register(root)
  /** Untimed, after set-up: self-check the registry and compute the
    * expected outputs. Returns the failed expectations. */
  def prepare(reg: Registry): Seq[String]
  /** Path fragment of the fact table the queries scan. */
  def factTable: String = s"/datasets/${layout.datasetId}/load_data.parquet"
  /** The registered tables, for the content hash. */
  def tables(reg: Registry): Seq[(String, DataFrame)] = layout.tables(reg)
  /** Untimed runs that load classes, JIT and fill codegen caches. */
  def warmup(): Unit
  /** Run query `i`, timing only the query, then check its output. */
  def untraced(i: Int): Op
  /** Run query `i` with the pipeline cut into one span per layer; the
    * op's time is the sum of the spans' self times. */
  def traced(i: Int): Op
  /** Checks that need the whole run (cache equivalence); one op each. */
  def finish(): Seq[Op] = Nil
  /** Queries per repeating pattern; a run measures whole patterns. */
  def cycle: Int = 1

  /** What each traced query's sink left on disk: (run, bytes, files). */
  val written = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int)]

  protected def recordSink(files: Seq[Path]): Unit =
    written += ((tracer.run, files.map(f => Files.size(f)).sum, files.size))

  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer
  protected var reg: Registry = _
  /** The registry the queries run against, once [[prepare]]d. */
  def registry: Registry = reg

  protected def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Registry metadata the query reads, timed from outside: the calls the
    * Submitter makes for it (schema and listing only, no data). */
  protected def registryRead(datasetId: String, mappingName: String, dims: Seq[String]): Unit =
    tracer.span("registry.read") {
      reg.contentToken
      reg.listDimensions()
      reg.dataset(datasetId).schema
      reg.mapping(mappingName).schema
      dims.foreach(d => reg.dimensionRecords(d).schema)
    }

  /** The pipeline cut at the Submitter's stage functions: validate, build
    * the plan, run the mapped datasets to a noop sink, run the whole plan
    * to a noop sink, then the real sink. Returns the time of the cut
    * pipeline as the untraced query would spend it: validate + build +
    * sink. */
  protected def cutPipeline(q: ProjectQuery, sub: Submitter)(sink: DataFrame => Unit): Double = {
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    val before = tracer.spans.size
    tracer.span("query.validate")(sub.validate(q))
    val (mapped, full) = tracer.span("query.build") {
      val m = sub.combine(q.datasets)
      (m, sub.postProcess(m, q.result))
    }
    tracer.span("query.map")(noop(mapped))
    tracer.span("query.postprocess")(noop(full))
    tracer.span("sources.write")(sink(full))
    val s = tracer.spans.drop(before).map(s => s.name -> s.seconds).toMap
    s("query.validate") + s("query.build") + s("sources.write")
  }

  protected def outDir(i: Int): Path = ctx.work.resolve(s"out/q$i")

  private def walk(p: Path): List[Path] =
    if (!Files.exists(p)) Nil
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)

  protected def deleteTree(p: Path): Unit = walk(p).reverse.foreach(Files.delete)

  protected def parquetFiles(p: Path): Seq[Path] = walk(p).filter(_.toString.endsWith(".parquet"))

  protected def document(fields: (String, Any)*): String = Json.obj(fields: _*)
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "county_disagg_write" => new CountyDisaggWrite(ctx)
    case "interactive_cached" => new InteractiveCached(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names = Seq("county_disagg_write", "interactive_cached")
}

/** Region→county one-to-many disaggregation (6× fan-out) of two-table data
  * with scaling factors, converted to MWh and to each county's local time,
  * every row written with `Writers.parquetAutoPartition`. */
final class CountyDisaggWrite(val ctx: Ctx, factor: Int = 1, hours: Int = Gen.Hours) extends Workload {
  protected val layout: Gen.RegionLayout = Gen.RegionLayout(ctx.spark, ctx.seed, factor, hours)
  private var expectedTotal = 0.0

  /** MWh per unit, from the unit definitions: 1 therm = 100,000 Btu(IT)
    * = 105.5056 MJ, 1 kWh = 3.6 MJ. */
  private val mwhPer = Map("kWh" -> 1e-3, "therm" -> 105.5056 / 3.6 / 1e3)

  val doc: String = document(
    "name" -> "county_disagg_write",
    "datasets" -> Json.Raw(document("datasets" -> Seq(Json.Raw(document(
      "dataset_id" -> layout.datasetId,
      "mappings" -> Seq(Map("dimension" -> "geography", "mapping_name" -> layout.mappingName))))))),
    "result" -> Json.Raw(document("to_unit" -> "MWh", "time_zone" -> "geography")))


  /** The expected output total, from the registered tables by this
    * benchmark's own join: sum of value × scaling_factor × MWh per unit. */
  def prepare(r: Registry): Seq[String] = {
    reg = r
    val factorOf = spark.createDataFrame(layout.metrics.map { case (m, u) => (m, mwhPer(u)) })
      .toDF("metric", "mwh_per_unit")
    expectedTotal = r.loadData(layout.datasetId)
      .join(r.lookup(layout.datasetId).get, "id")
      .join(factorOf, "metric")
      .agg(sum(col("value") * col("scaling_factor") * col("mwh_per_unit")))
      .head().getDouble(0)
    layout.selfCheck(r)
  }

  def warmup(): Unit = untraced(-1)

  /** Values conserved through disaggregation, scaling and conversion, one
    * output row per (input row, county). */
  def checkOutput(out: DataFrame): Seq[String] =
    Checks.totals(Checks.sums(out, Seq("value")), Map("value" -> expectedTotal), layout.outputRows)

  private def check(i: Int): Boolean = {
    val problems = checkOutput(spark.read.parquet(outDir(i).toString))
    problems.foreach(p => System.err.println(s"[perfbench] county_disagg_write q$i: $p"))
    deleteTree(outDir(i))
    problems.isEmpty
  }

  def untraced(i: Int): Op = {
    val (_, s) = time {
      val sub = new Submitter(reg)
      val df = sub.submit(QueryJson.parseProjectQuery(doc))
      Writers.parquetAutoPartition(spark, df, outDir(i).toString)
    }
    Op(s, check(i), hit = false, layout.rows)
  }

  def traced(i: Int): Op = {
    registryRead(layout.datasetId, layout.mappingName, Seq("metric", "geography"))
    val q = QueryJson.parseProjectQuery(doc)
    val s = cutPipeline(q, new Submitter(reg))(full => Writers.parquetAutoPartition(spark, full, outDir(i).toString))
    recordSink(parquetFiles(outDir(i)))
    Op(s, check(i), hit = false, layout.rows)
  }
}

/** A seeded stream of small queries over the county registry, each for one
  * state and one four-week window: the state through the semantic
  * prefilter (county→state chain), the window as a time filter, summed by
  * (state, metric, scenario) with `metric` pivoted into columns, collected
  * on the driver through a `Submitter` with a `cacheDir`.
  *
  * Every [[newEvery]]-th query is one not asked before, which the cache
  * misses (both cache levels, since the state-window pair is new); the
  * others repeat a uniformly drawn earlier query, which the cache serves.
  * A run measures whole patterns of [[newEvery]] queries, so the share of
  * hits is fixed and no metric moves with the draw or the stopping point:
  * the median and the tail are cache hits, and misses weigh on
  * `queries_per_s` and `rows_per_s`. Every query covers the same number
  * of fact rows. */
final class InteractiveCached(val ctx: Ctx, factor: Int = 1, hours: Int = Gen.Hours) extends Workload {
  protected val layout: Gen.CountyLayout = Gen.CountyLayout(ctx.spark, ctx.seed, factor, hours)
  private val cacheDir = ctx.work.resolve("cache")
  val newEvery = 4
  override def cycle: Int = newEvery
  val windowHours = 28 * 24
  val windows: Int = hours / windowHours
  private val metrics = layout.metrics.map(_._1)
  private var expected = Map.empty[(String, Int, String), Double]

  /** One state, window `w` = hours [w * windowHours, (w + 1) * windowHours). */
  final case class Q(state: String, w: Int) {
    def doc(prefilter: Boolean = true): String = {
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      val start = java.time.LocalDateTime.of(Gen.Year, 1, 1, 0, 0).plusHours(w.toLong * windowHours)
      val stateFilter = Json.Raw(document(
        "filter_type" -> "expression", "column" -> "geography", "operator" -> "==", "value" -> state))
      val windowFilter = Json.Raw(document(
        "filter_type" -> "between", "column" -> "timestamp",
        "lower" -> start.format(fmt), "upper" -> start.plusHours(windowHours - 1L).format(fmt)))
      val ds = Seq(
        "dataset_id" -> layout.datasetId,
        "mappings" -> Seq(Map("dimension" -> "geography", "mapping_name" -> layout.mappingName)),
        "filters" -> (if (prefilter) Seq(stateFilter, windowFilter) else Seq(windowFilter)))
      val result = (if (prefilter) Nil else Seq("filters" -> Seq(stateFilter))) ++ Seq(
        "aggregations" -> Seq(Json.Raw(document("group_by" -> Seq("geography", "metric", "scenario"), "fn" -> "sum"))),
        "pivot_dimension" -> "metric")
      document(
        "name" -> f"state_${state}_window_$w%02d",
        "datasets" -> Json.Raw(document("datasets" -> Seq(Json.Raw(document(ds: _*))))),
        "result" -> Json.Raw(document(result: _*)))
    }
  }
  /** Fact rows one query covers. */
  val rowsPerQuery: Long = layout.rows / layout.states.size / hours * windowHours

  val stream: IndexedSeq[Q] = {
    val rnd = new scala.util.Random(ctx.seed)
    val fresh = rnd.shuffle(for ((st, _, _) <- layout.states; w <- 0 until windows) yield Q(st, w)).iterator
    val issued = scala.collection.mutable.ArrayBuffer.empty[Q]
    (0 until 2000).map { i =>
      if (i % newEvery == 0 && fresh.hasNext) { issued += fresh.next(); issued.last }
      else issued(rnd.nextInt(issued.size))
    }
  }

  private val firstResult = scala.collection.mutable.Map.empty[Q, Array[Row]]

  /** Expected per (state, window, metric) totals, by this benchmark's own
    * join of the fact table to the generated county→state pairs. */
  def prepare(r: Registry): Seq[String] = {
    reg = r
    val countyState = spark.createDataFrame(layout.counties.map { case (c, st, _) => (c, st) })
      .toDF("geography", "state")
    expected = r.loadData(layout.datasetId).join(countyState, "geography")
      .groupBy(col("state"),
        ((unix_timestamp(col("timestamp")) - unix_timestamp(lit(s"${Gen.Year}-01-01 00:00:00"))) /
          (3600L * windowHours)).cast("int"),
        col("metric"))
      .agg(sum("value"))
      .collect().map(row => (row.getString(0), row.getInt(1), row.getString(2)) -> row.getDouble(3)).toMap
    layout.selfCheck(r)
  }

  /** One query missed and then hit five times, in a cache of its own: the
    * stream starts with an empty cache but warm code on both paths. */
  def warmup(): Unit = {
    val warmCache = ctx.work.resolve("cache-warmup").toString
    for (_ <- 0 until 6)
      new Submitter(reg, Some(warmCache)).submit(QueryJson.parseProjectQuery(stream.head.doc())).collect()
  }

  /** The state-window totals are conserved per metric, one row per
    * scenario. */
  def checkResult(q: Q, rows: Array[Row]): Seq[String] =
    Checks.totals(Checks.sums(rows, metrics),
      metrics.map(m => m -> expected((q.state, q.w, m))).toMap, layout.scenarios.size)

  /** [[checkResult]], and a repeat equals the result first computed. */
  private def check(i: Int, q: Q, rows: Array[Row]): Boolean = {
    val totals = checkResult(q, rows)
    val repeat = firstResult.get(q) match {
      case None =>
        firstResult(q) = rows
        Nil
      case Some(first) =>
        Checks.sameRows(rows, first, Seq("geography", "scenario"), metrics)
    }
    (totals ++ repeat).foreach(p => System.err.println(s"[perfbench] interactive_cached q$i: $p"))
    totals.isEmpty && repeat.isEmpty
  }

  def untraced(i: Int): Op = {
    val q = stream(i)
    val hit = firstResult.contains(q)
    val (rows, s) = time {
      new Submitter(reg, Some(cacheDir.toString)).submit(QueryJson.parseProjectQuery(q.doc())).collect()
    }
    Op(s, check(i, q, rows), hit, rowsPerQuery)
  }

  def traced(i: Int): Op = {
    val q = stream(i)
    val hit = firstResult.contains(q)
    registryRead(layout.datasetId, layout.mappingName, Nil)
    val pq = QueryJson.parseProjectQuery(q.doc())
    val sub = new Submitter(reg, Some(cacheDir.toString))
    var rows: Array[Row] = null
    val s =
      if (hit) {
        tracer.span("query.cache_lookup") { rows = sub.submit(pq).collect() }
        tracer.spans.last.seconds
      } else {
        val before = parquetFiles(cacheDir)
        val s = cutPipeline(pq, sub)(_ => rows = sub.submit(pq).collect())
        // the result entry; the mapped-dataset entry ("mapped_<key>") is
        // written while the plan is built
        recordSink(parquetFiles(cacheDir).diff(before).filterNot(_.toString.contains("/mapped_")))
        s
      }
    Op(s, check(i, q, rows), hit, rowsPerQuery)
  }

  /** The first query's cached result equals an uncached run of it (every
    * repeat was already checked against that cached result), and the
    * dataset-filter (prefilter) result equals the same state filter applied
    * after mapping. One op each. */
  override def finish(): Seq[Op] = {
    def uncached(q: Q, prefilter: Boolean) =
      new Submitter(reg).submit(QueryJson.parseProjectQuery(q.doc(prefilter))).collect()
    val keys = Seq("geography", "scenario")
    val first = stream.head
    val prefiltered = uncached(first, prefilter = true)
    Seq(
      "cached = uncached" -> Checks.sameRows(firstResult(first), prefiltered, keys, metrics),
      "prefilter = filter after mapping" ->
        Checks.sameRows(prefiltered, uncached(first, prefilter = false), keys, metrics)
    ).map { case (what, problems) =>
      problems.foreach(p => System.err.println(s"[perfbench] interactive_cached $what: $p"))
      Op(0.0, problems.isEmpty, hit = false, 0L)
    }
  }
}
