package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.GraftSession

/** What every catalog tool (Bench, Verify, Explain, PlanLintSweep,
  * ScaleProbe, Profile) and the spec session share, so that what is
  * verified, profiled and measured is one program: the session from
  * [[GraftSession]], the untimed warm-up, the timed noop-sink run, the
  * reset between runs, JSON artifacts and the child-JVM launcher. */
object Harness {

  /** Local cores, and shuffle partitions, of every tool session. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(cores: Int = cpus, logLevel: String = "WARN"): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Noop sink: forces full evaluation of every operator (a bare count()
    * lets Catalyst prune projection-only work and under-measures). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Untimed warm-up: JIT/codegen/parquet-reader init otherwise lands on
    * whichever query runs first and distorts its number. */
  def warmUp(spark: SparkSession): Unit =
    try noop(graft.SparkEntry.entry(spark))
    catch { case _: Throwable => () }

  /** Between runs: queries that cache intermediates must not skew later
    * ones, and localCheckpoint RDDs are not covered by clearCache — over
    * hundreds of queries they accrue block-manager memory and degrade the
    * late, shuffle-heavy ones (r14 measured the back two thirds of a bench
    * ~12% slower before this). */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** One run: wall seconds, this process's CPU seconds, and the core-
    * seconds OTHER processes kept busy meanwhile (-1 when unavailable). A
    * clean local[n] run has external ≈ 0; a contended one shows other
    * processes eating the cores the wall time paid for (the r9 verdict:
    * a 253 s record was ~40% machine noise and could not say so). */
  final case class Sample(wall: Double, cpu: Double, external: Double)

  private val osBean = Option(ManagementFactory.getOperatingSystemMXBean)
    .collect { case b: com.sun.management.OperatingSystemMXBean => b }
  private def procCpuNs(): Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
  // whole-machine busy time from /proc/stat in USER_HZ=100 ticks:
  // total − idle − iowait (fields 4,5; zero-indexed 3,4)
  private def systemBusyTicks(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      f.sum - f(3) - (if (f.length > 4) f(4) else 0L)
    } catch { case _: Exception => -1L }

  /** Times `f`; an exception propagates (a failed run has no timing). */
  def timed(f: => Unit): Sample = {
    val c0 = procCpuNs(); val s0 = systemBusyTicks()
    val t0 = System.nanoTime()
    f
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = if (c0 >= 0) (procCpuNs() - c0) / 1e9 else -1.0
    val s1 = systemBusyTicks()
    val external =
      if (s0 >= 0 && s1 >= 0 && cpu >= 0) math.max(0.0, (s1 - s0) / 100.0 - cpu) else -1.0
    Sample(wall, cpu, external)
  }

  /** Min-of-N steady-state wall time into the noop sink, reset after every
    * run: one cold run measures JIT/codegen noise as phantom 2-6×
    * regressions (the round-5 verdict). */
  def minWall(spark: SparkSession, runs: Int)(df: => DataFrame): Double =
    (1 to runs).map(_ => try timed(noop(df)).wall finally reset(spark)).min

  /** Renders Scala values as JSON: maps keep their iteration order (build
    * artifacts from `VectorMap`s) and every string is fully escaped. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(value: Any): String = json.writeValueAsString(value)

  /** `v` with exactly `places` decimals, as a JSON number (Locale.ROOT: a
    * comma-decimal default locale would break the JSON). */
  def dec(v: Double, places: Int): java.math.BigDecimal =
    new java.math.BigDecimal(String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(v)))

  /** Writes a JSON artifact and returns its path. A filtered dev run writes
    * the `.partial` sidecar instead: it must never clobber the full-gate
    * artifact (a filtered bench once silently replaced 160 queries of
    * bench_detail.json with 3). */
  def writeArtifact(path: String, value: Any, filtered: Boolean): String = {
    val out = if (filtered) path + ".partial" else path
    Files.writeString(Paths.get(out), render(value) + "\n")
    out
  }

  /** A child JVM running `main` with this JVM's module flags, heap and
    * classpath — Spark on JDK 17 outside spark-submit dies with
    * InaccessibleObjectException when a flag is missing, so a hand-kept
    * copy of the list drifts into failures. */
  def childJvm(main: String, args: Seq[String], env: Map[String, String]): ProcessBuilder = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val inherited = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(a =>
      Seq("--add-opens", "--add-exports", "--enable-native-access", "-Xmx", "-Xss", "-Djdk.")
        .exists(a.startsWith))
    val pb = new ProcessBuilder((Seq(javaBin) ++ inherited ++
      Seq("-cp", System.getProperty("java.class.path"), main) ++ args).asJava)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb
  }
}
