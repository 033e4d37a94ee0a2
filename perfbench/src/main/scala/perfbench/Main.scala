package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.core.GraftSession

/** The lifecycle benchmark's JVM side: one workload, one process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
  * }}}
  *
  * Starts a session from the engine's own factory, sets the registry up
  * several times (generation + registration with validation, timed), then
  * runs the workload's closed loop for `--seconds` of query time. The last
  * stdout line is the result object; the line before it holds details
  * (tail percentile and its sample count, content hash, set-up times).
  */
object Main {

  /** Set-ups per run; `setup_s` reports their median, which skips the
    * first, cold one (class loading, JIT, codegen). */
  val SetupRuns = 3
  /** Share of a traced run's time spent untraced, for the overhead figure. */
  val UntracedShareInTrace = 1.0 / 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Workload.names.contains(workload), s"unknown workload '$workload' (one of ${Workload.names.mkString(", ")})")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var phaseStart = t0
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - phaseStart) / 1e9
      phaseStart = now
    }
    val spark = GraftSession.builder()
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase("session")
    val cores = spark.sparkContext.defaultParallelism

    val tracer = new Tracer(spark, trace)
    val wl = Workload(workload, Ctx(spark, tracer, work, seed))
    tracer.factTable = wl.factTable
    val setups = (0 until SetupRuns).map { k =>
      val s0 = System.nanoTime()
      val reg = tracer.span("registry.register")(wl.register(work.resolve(s"registry_$k").toString))
      (reg, (System.nanoTime() - s0) / 1e9)
    }
    phase("setups")
    val reg = setups.last._1
    val selfCheck = wl.prepare(reg)
    if (selfCheck.nonEmpty)
      throw new IllegalStateException(s"generated registry failed its self-check: ${selfCheck.mkString("; ")}")
    val contentHash = Gen.contentHash(wl.tables(reg))
    phase("prepare")
    // a warm-up that fails counts as a failed op, like a failed query
    val warmupFailure = scala.util.Try(wl.warmup()).failed.toOption.map { e =>
      System.err.println(s"[perfbench] $workload warm-up failed: $e")
      Op(0.0, ok = false, hit = false, rows = 0L)
    }
    phase("warmup")

    // closed loop: run ops until their own time reaches the budget and the
    // workload's pattern is complete
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    def loop(budget: Double, traced: Boolean): Seq[Op] = {
      val mine = scala.collection.mutable.ArrayBuffer.empty[Op]
      var spent = 0.0
      var consecutiveFailures = 0
      while ((spent < budget || mine.size % wl.cycle != 0) && consecutiveFailures < 5) {
        val i = ops.size
        tracer.run = i + 1
        val w0 = System.nanoTime()
        val op =
          try if (traced) wl.traced(i) else wl.untraced(i)
          catch {
            case e: Exception =>
              System.err.println(s"[perfbench] $workload op $i failed: $e")
              Op((System.nanoTime() - w0) / 1e9, ok = false, hit = false, rows = 0L)
          }
        consecutiveFailures = if (op.ok) 0 else consecutiveFailures + 1
        // a traced op's budget is its wall time (it runs the pipeline cut)
        spent += (if (traced) (System.nanoTime() - w0) / 1e9 else op.seconds)
        ops += op
        mine += op
      }
      mine.toSeq
    }
    val untracedOps = loop(if (trace) seconds * UntracedShareInTrace else seconds, traced = false)
    val tracedOps = if (trace) loop(seconds * (1 - UntracedShareInTrace), traced = true) else Nil
    phase("measure")
    val checks = wl.finish()
    phase("finish")
    val all = warmupFailure.toSeq ++ ops ++ checks

    val setupTimes = setups.map(_._2)
    val tail = Stats.tail(untracedOps.filter(_.ok).map(_.seconds))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val good = untracedOps.filter(_.ok)
        val spent = untracedOps.map(_.seconds).sum
        Seq(
          ("setup_s", phases("session") + Stats.median(setupTimes), "s"),
          ("query_p50_s", Stats.median(good.map(_.seconds)), "s"),
          ("query_tail_s", tail.value, "s"),
          ("queries_per_s", good.size / spent, "1/s"),
          ("rows_per_s", good.map(_.rows).sum / spent, "rows/s"),
          ("peak_rss_mb", Stats.peakRssMb(), "MB"))
      } else Layers.metrics(tracer, wl, untracedOps, tracedOps, ops.toSeq, cores)

    for (out <- opts.get("trace-out") if trace) tracer.writeJsonl(Paths.get(out))
    tracer.close()
    spark.stop()
    phase("stop")

    println(Json.obj("detail" -> Json.Raw(Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "content_hash" -> contentHash,
      "setup_runs_s" -> setupTimes,
      "samples" -> untracedOps.count(_.ok), "traced_samples" -> tracedOps.count(_.ok),
      "cache_hits" -> ops.count(_.hit),
      "tail_percentile" -> tail.percentile, "tail_samples_beyond" -> tail.beyond,
      "phase_s" -> phases,
      "query_s" -> untracedOps.map(_.seconds)))))
    println(Json.obj(
      "correct" -> all.forall(_.ok),
      "attempted" -> all.size,
      "failed" -> all.count(!_.ok),
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
      }: _*))))
  }
}

object Stats {
  /** Median; 0 for no samples (a run whose every op failed, which its
    * `failed` count reports). */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final case class Tail(value: Double, percentile: Double, beyond: Int)

  /** The highest percentile with at least ten samples beyond it (nearest
    * rank). Below 21 samples that rank is not above the median, and the
    * median is reported, with zero samples beyond recorded as such. */
  def tail(xs: Seq[Double]): Tail = {
    val s = xs.sorted
    val n = s.size
    if (n >= 21) Tail(s(n - 11), 100.0 * (n - 10) / n, 10)
    else Tail(median(xs), 50.0, 0)
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
