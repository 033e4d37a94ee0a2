package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

/** One-shot gate chain: compile → Verify+oracle → sbt test → ScaleProbe →
  * PlanLintSweep → Bench, each as a subprocess, with one JSON verdict at
  * the end (DOCTOR.json + a final stdout line). The round-close ritual is
  * otherwise four hand-run commands spread across the verify skill — one
  * entry point makes driver rounds and future judges cheaper.
  *
  * Usage: `graft.tools.Doctor [--skip step,…] [--sf-dir dir] [--out file]`
  * where steps ∈ {compile, verify, test, scale, planlint, bench}. Runs from the repo
  * root. Each step is best-effort isolated: a failed step records its exit
  * code and the chain continues (the verdict names every failure), except
  * compile — nothing downstream is meaningful against stale classes, so a
  * failed compile short-circuits.
  */
object Doctor {

  case class Step(name: String, ok: Boolean, seconds: Double, detail: String)

  /** Runs `pb` to completion with stdout — and stderr, unless the caller
    * redirected it — in `logFile`. */
  private def run(pb: ProcessBuilder, logFile: String): Int = {
    if (pb.redirectError() == ProcessBuilder.Redirect.PIPE) pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(logFile)).start().waitFor()
  }
  private def jvm(main: String, args: Seq[String], env: (String, String)*): ProcessBuilder =
    Harness.childJvm(main, args, Map("SPARK_GRAFT_CPUS" -> "8") ++ env)

  /** The bench runner parses the bench's last stdout line: it must be a JSON
    * object that leads with "metric" (r19 verdict item 9). */
  def benchLineOk(stdout: String): Boolean =
    scala.util.Try(Harness.json.readTree(stdout.linesIterator.toSeq.last)).toOption
      .exists(n => n.isObject && n.fieldNames().asScala.nextOption().contains("metric"))

  /** DOCTOR.json's content; details carry raw log tails, so every string
    * goes through Jackson's escaping. */
  def render(pass: Boolean, sfDir: String, work: String, steps: Seq[Step]): String =
    Harness.render(VectorMap("pass" -> pass, "sf" -> sfDir, "work" -> work,
      "steps" -> steps.map(s => s.name -> VectorMap(
        "ok" -> s.ok, "seconds" -> Harness.dec(s.seconds, 1), "detail" -> s.detail)).to(VectorMap)))

  private def timed(name: String)(f: => (Boolean, String)): Step = {
    val t0 = System.nanoTime()
    val (ok, detail) =
      try f
      catch { case e: Exception => (false, s"exception: ${e.getMessage}") }
    Step(name, ok, (System.nanoTime() - t0) / 1e9, detail)
  }

  def main(args: Array[String]): Unit = {
    def argOf(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val skip = argOf("--skip").map(_.split(",").toSet).getOrElse(Set.empty)
    val sfDir = argOf("--sf-dir").getOrElse("/root/testdata/sf0.01")
    val outFile = argOf("--out").getOrElse("DOCTOR.json")
    val work = Files.createTempDirectory("graft-doctor").toString

    val steps = scala.collection.mutable.ArrayBuffer.empty[Step]
    def record(name: String)(f: => (Boolean, String)): Boolean = {
      if (skip.contains(name)) { steps += Step(name, ok = true, 0.0, "skipped"); true }
      else { val s = timed(name)(f); steps += s;
        System.err.println(f"[doctor] ${s.name}%-8s ${if (s.ok) "ok" else "FAIL"}%-4s ${s.seconds}%7.1fs ${s.detail}")
        s.ok }
    }

    val compiled = record("compile") {
      val rc = run(new ProcessBuilder("sbt", "-batch", "compile"), s"$work/compile.log")
      (rc == 0, s"rc=$rc log=$work/compile.log")
    }
    if (compiled) {
      record("verify") {
        val vOut = s"$work/verify_out"
        val rc = run(jvm("graft.Verify", Seq(sfDir, vOut)), s"$work/verify.log")
        if (rc != 0) (false, s"Verify rc=$rc log=$work/verify.log")
        else {
          val rc2 = run(new ProcessBuilder(
            "python3", "tools/check_oracle.py", sfDir, vOut, "--budget-seconds", "30"),
            s"$work/oracle.log")
          val tail = scala.util.Try(
            Files.readAllLines(Paths.get(s"$work/oracle.log"))
              .toArray.lastOption.map(_.toString).getOrElse("")).getOrElse("")
          (rc2 == 0, s"oracle rc=$rc2 $tail")
        }
      }
      record("test") {
        val rc = run(new ProcessBuilder("sbt", "-batch", "test"), s"$work/test.log")
        (rc == 0, s"rc=$rc log=$work/test.log")
      }
      record("scale") {
        val rc = run(
          jvm("graft.tools.ScaleProbe",
            Seq("/root/testdata/sf0.001", sfDir, s"$work/scale.json")),
          s"$work/scale.log")
        (rc == 0, s"rc=$rc out=$work/scale.json")
      }
      record("planlint") {
        // writes the repo-root artifact (PLANLINT.json is part of the
        // round-close contract, like bench_detail.json from the bench step)
        val rc = run(jvm("graft.tools.PlanLintSweep", Seq(sfDir, "PLANLINT.json")),
          s"$work/planlint.log")
        (rc == 0, s"rc=$rc out=PLANLINT.json")
      }
      record("bench") {
        // stdout alone: the line check below reads its last line
        val rc = run(jvm("graft.Bench", Nil, "SPARK_GRAFT_SF_DIR" -> sfDir)
          .redirectError(new java.io.File(s"$work/bench.err.log")), s"$work/bench.log")
        val contended = scala.util.Try(
          Files.readString(Paths.get("bench_detail.json"))
            .contains("\"contended\":true")).getOrElse(false)
        val lineOk = benchLineOk(
          scala.util.Try(Files.readString(Paths.get(s"$work/bench.log"))).getOrElse(""))
        (rc == 0 && lineOk, s"rc=$rc line_ok=$lineOk contended=$contended detail=bench_detail.json")
      }
    }
    val pass = steps.forall(_.ok)
    val json = render(pass, sfDir, work, steps.toSeq)
    Files.writeString(Paths.get(outFile), json + "\n")
    println(json)
    if (!pass) sys.exit(1)
  }
}
