package graft

import java.nio.file.Files
import graft.core.Constants._
import graft.registry.Registry

/** Bad input to a CLI verb is exit 1 with the message on stderr, never an
  * exception out of `Cli.run`. */
class CliExitSpec extends SparkSpec {
  import spark.implicits._

  test("a missing input document or an unknown dataset exits 1") {
    val root = Files.createTempDirectory("graft-cli-exit-reg").toString
    Registry.registerDataset(Registry(spark, root), "ds", Seq(("a", 1.0)).toDF("geography", ValueColumn))
    val out = Files.createTempDirectory("graft-cli-exit-out").toString
    val missing = s"$out/missing.json"
    val unknown = Files.createTempFile("graft-cli-exit", ".json")
    Files.writeString(unknown, """{"name": "u", "datasets": {"datasets": [{"dataset_id": "ghost"}]}}""")
    val unknownDataset = Files.createTempFile("graft-cli-exit-dq", ".json")
    Files.writeString(unknownDataset, """{"name": "u", "dataset": {"dataset_id": "ghost"}}""")

    assert(Cli.run(Array("query", "project", root, missing, out)) == 1)
    assert(Cli.run(Array("query", "project", root, unknown.toString, out)) == 1)
    assert(Cli.run(Array("query", "dataset", root, missing, out)) == 1)
    assert(Cli.run(Array("query", "dataset", root, unknownDataset.toString, out)) == 1)
    assert(Cli.run(Array("curate", out, missing, out)) == 1)
    assert(Cli.run(Array("registry", "register-bulk", root, missing)) == 1)
    assert(Cli.run(Array("query", "composite-create", root, missing, "c")) == 1)
    assert(Cli.run(Array("query", "composite-run", root, "c", missing, out)) == 1)
    assert(Cli.run(Array("query", "register-derived", root, missing, "d")) == 1)
    assert(Cli.run(Array("query", "register-derived", root, unknown.toString, "d")) == 1)
  }
}
