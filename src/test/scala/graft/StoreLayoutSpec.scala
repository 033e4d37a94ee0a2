package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The store contract, checked on the sources without a Spark job:
  * content-keyed reuse goes through `query.FileCache.cached` alone, so an
  * entry is reused whenever its key exists and no flag or marker probe
  * decides it a second time; and a table the engine writes and reads back
  * becomes visible through the one publish step (`HadoopFs.publish` /
  * `publishOnce`), so the registry and the query layer never overwrite a
  * path in place and no second swap or lineage-cut writer exists. */
class StoreLayoutSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (source path relative to `root`, line number, line) of every source
    * line under `root`. */
  private lazy val lines: List[(String, Int, String)] = {
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val sources = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList)
    assert(sources.size > 100, s"scanned only ${sources.size} files")
    for {
      f <- sources
      rel = root.relativize(f).toString.replace('\\', '/')
      (line, i) <- Files.readAllLines(f).asScala.toList.zipWithIndex
    } yield (rel, i + 1, line)
  }

  private def hits(names: Seq[String], under: String => Boolean): Seq[String] =
    for ((rel, n, line) <- lines; name <- names if under(rel) && line.contains(name)) yield s"$rel:$n: $name"

  test("no second reuse path beside FileCache.cached") {
    val found = hits(Seq("reuseExisting", "resumeMapping", "_SUCCESS"), _ => true)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no second publish path beside HadoopFs.publish") {
    val found =
      hits(Seq("persistIntermediate", "replaceWith", ".graft-tmp"), _ => true) ++
        hits(Seq("mode(\"overwrite\")", "SaveMode.Overwrite"),
          rel => rel.startsWith("graft/registry/") || rel.startsWith("graft/query/"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
