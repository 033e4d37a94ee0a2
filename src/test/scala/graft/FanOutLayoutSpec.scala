package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The fan-out contract, checked on the sources without a Spark job:
  * independent driver-side actions run through `core.Par` and nowhere
  * else, so the pool size, session pin, job tag and cancel-on-failure
  * policy stay one decision. `api/Api.scala` keeps its own pool because
  * that pool is the async job queue, bounded by the server's settings,
  * not a fan-out whose caller waits for every result. */
class FanOutLayoutSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val allowed = Set("graft/core/Par.scala", "graft/api/Api.scala")
  private val forbidden = Seq(
    "scala.concurrent.Future" -> """scala\.concurrent\.(Future\b|\{[^}]*\bFuture\b)""".r,
    "Await" -> """\bAwait\b""".r,
    "Duration.Inf" -> """Duration\.Inf\b""".r,
    "ExecutionContext.Implicits.global" -> """ExecutionContext\.Implicits\.global""".r,
    "Executors.new*" -> """Executors\.new""".r)

  test("no thread pool or Future fan-out outside core.Par and the API job queue") {
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val hits = for {
      f <- sources
      rel = root.relativize(f).toString.replace('\\', '/')
      if !allowed(rel)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (name, re) <- forbidden
      if re.findFirstIn(line).isDefined
    } yield s"$rel:${i + 1}: $name"
    assert(sources.size > 100, s"scanned only ${sources.size} files")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
