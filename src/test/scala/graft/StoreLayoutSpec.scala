package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The store contract, checked on the sources without a Spark job:
  * content-keyed reuse goes through `query.FileCache.cached` alone, so an
  * entry is reused whenever its key exists and no flag or marker probe
  * decides it a second time. `Writers.persistIntermediate` stays a plain
  * lineage cut and the query submitters do not call it. */
class StoreLayoutSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val forbidden = Seq("reuseExisting", "resumeMapping", "_SUCCESS")

  test("no second reuse path beside FileCache.cached") {
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val sources = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList)
    val hits = for {
      f <- sources
      rel = root.relativize(f).toString.replace('\\', '/')
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      name <- forbidden :+ "persistIntermediate"
      if line.contains(name) && (name != "persistIntermediate" || rel.startsWith("graft/query/"))
    } yield s"$rel:${i + 1}: $name"
    assert(sources.size > 100, s"scanned only ${sources.size} files")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
