package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.Constants._
import graft.query.Submitter
import graft.registry.{BulkRegister, DatasetFormat, DerivedArtifacts, Registry}
import graft.sources.{HadoopFs, Readers, Writers}

/** The storage layer: `HadoopFs` on plain paths and `file:` URIs, the
  * writers that list, delete and rename through it, sidecars in the form
  * existing registries hold on disk, and JSON nulls in bulk manifests. */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text)
  }

  private def parquetFiles(dir: String): Int =
    new File(dir).listFiles().count(_.getName.endsWith(".parquet"))

  test("HadoopFs: the same answers on a plain path and its file: URI") {
    val dir = tmpDir("graft-hadoopfs")
    for (d <- Seq("b", "a", "c")) Files.createDirectories(Paths.get(dir, "kind", d))
    Files.writeString(Paths.get(dir, "kind", "not-a-dir.txt"), "x")
    for (root <- Seq(dir, s"file:$dir")) {
      assert(HadoopFs.subdirs(spark, s"$root/kind") == Seq("a", "b", "c"))
      assert(HadoopFs.subdirs(spark, s"$root/missing") == Nil)
      assert(HadoopFs.readJson(spark, s"$root/missing.json").isEmpty)
      HadoopFs.writeJson(spark, s"$root/j/side.json")(_.put("k", "v \"q\""))
      assert(HadoopFs.readJson(spark, s"$root/j/side.json").map(_.get("k").asText()).contains("v \"q\""))
      HadoopFs.publish(spark, s"$root/j2")(d => HadoopFs.writeText(spark, s"$d/side.json", "{}"))
      HadoopFs.publish(spark, s"$root/j2")(d => HadoopFs.writeJson(spark, s"$d/other.json")(_.put("k", 1)))
      assert(!HadoopFs.exists(spark, s"$root/j2/side.json") && HadoopFs.exists(spark, s"$root/j2/other.json"))
      assert(HadoopFs.subdirs(spark, root) == Seq("j", "j2", "kind"))
      assert(new File(dir).list().forall(!_.startsWith(".")), "a publish left its temp dir behind")
      assert(HadoopFs.delete(spark, s"$root/j2") && !HadoopFs.delete(spark, s"$root/j2"))
    }
    assert(!new File(s"file:$dir").exists(), "a file: URI must never become a relative local path")
  }

  test("writers on a file: URI give the same files and rows as on the plain path, no tmp left") {
    val rows = spark.range(10000).toDF("id")
    def expected(p: String) = spark.read.parquet(p).orderBy("id").collect().toSeq
    // each writer, forced to rewrite: (writer, file count it must produce)
    val writers: Seq[(String, String => Unit, Int)] = Seq(
      ("parquetAutoPartition", p => Writers.parquetAutoPartition(spark, rows.repartition(40), p), 1),
      ("overwriteInPlace", { p =>
        rows.repartition(5).write.parquet(p)
        Writers.overwriteInPlace(spark, Readers.parquet(spark, p).withColumn("id", col("id") * 2).coalesce(2), p)
      }, 2),
      ("compactFiles", { p =>
        rows.repartition(13).write.parquet(p)
        Writers.compactFiles(spark, p, targetFileBytes = 1L << 30)
      }, 1))
    for ((name, run, files) <- writers) {
      val plain = tmpDir(s"graft-writers-$name") + "/t.parquet"
      val viaUri = tmpDir(s"graft-writers-$name-uri") + "/t.parquet"
      run(plain)
      run(s"file:$viaUri")
      assert(parquetFiles(plain) == files, name)
      assert(parquetFiles(viaUri) == files, name)
      assert(expected(viaUri) == expected(plain), name)
      assert(new File(viaUri).getParentFile.list().forall(!_.startsWith(".tmp_")), s"$name left its tmp table behind")
      assert(!new File(s"file:$viaUri").exists(), s"$name wrote under a relative file: path")
    }
  }

  test("sidecars in the form existing registries hold them read the same") {
    // the exact text earlier writers produced: a hand-interpolated category,
    // compact endpoints, and Jackson's default pretty printer elsewhere
    val root = tmpDir("graft-golden-reg")
    val reg = Registry(spark, root)
    write(s"$root/dimensions/sub/meta.json", """{"category": "subset"}""")
    write(s"$root/mappings/both/meta.json", """{"from_dimension":"county","to_dimension":"state"}""")
    write(s"$root/mappings/to_only/meta.json", """{"to_dimension":"state"}""")
    write(s"$root/datasets/wide/format.json",
      """{
        |  "value_format" : "pivoted",
        |  "pivoted_columns" : [ "heat \"gas\"", "cool" ],
        |  "variable_column" : "end_use"
        |}""".stripMargin)
    write(s"$root/datasets/art/provenance.json",
      """{
        |  "source_dataset" : "corpus",
        |  "source_token" : "3f2a",
        |  "params_token" : "minhash|doc_id|text|16|4|3"
        |}""".stripMargin)
    write(s"$root/composite_datasets/comp/metadata.json",
      """{
        |  "name" : "comp",
        |  "registry_token" : "9c1e",
        |  "value_column" : "value",
        |  "dimension_columns" : [ "geography", "sector" ],
        |  "columns" : [ "geography", "sector", "value" ]
        |}""".stripMargin)

    assert(reg.dimensionCategory("sub") == "subset")
    assert(reg.dimensionCategory("absent") == "base")
    assert(reg.mappingEndpoints("both") == ((Some("county"), Some("state"))))
    assert(reg.mappingEndpoints("to_only") == ((None, Some("state"))))
    assert(reg.mappingEndpoints("absent") == ((None, None)))
    assert(reg.datasetFormat("wide").contains(DatasetFormat("pivoted", Seq("heat \"gas\"", "cool"), "end_use")))
    assert(reg.datasetFormat("absent").isEmpty)
    assert(DerivedArtifacts.provenance(reg, "art").contains(("3f2a", "minhash|doc_id|text|16|4|3")))
    assert(DerivedArtifacts.provenance(reg, "absent").isEmpty)
    assert(new Submitter(reg).compositeMetadata("comp") == Map(
      "name" -> "comp",
      "value_column" -> "value",
      "dimension_columns" -> Seq("geography", "sector"),
      "columns" -> Seq("geography", "sector", "value")))
  }

  test("a bulk manifest's JSON null registers exactly like the absent key") {
    val files = tmpDir("graft-bulk-null-files")
    Seq(("c1", "C1"), ("c2", "C2")).toDF("id", "name").write.parquet(s"$files/geo.parquet")
    Seq(("s1", "S1")).toDF("id", "name").write.parquet(s"$files/state.parquet")
    Seq(("c1", "s1", 1.0), ("c2", "s1", 1.0)).toDF(FromIdColumn, ToIdColumn, FromFractionColumn)
      .write.parquet(s"$files/c2s.parquet")
    Seq(("c1", 1.0), ("c2", 2.0)).toDF("geography", ValueColumn).write.parquet(s"$files/load.parquet")
    def manifest(extra: String => String) =
      s"""{
         |  "dimensions": [{"name": "geo", "records": "geo.parquet"${extra("category")}},
         |                 {"name": "state", "records": "state.parquet"}],
         |  "mappings": [{"name": "c2s", "table": "c2s.parquet", "to_dimension": "state"${extra("from_dimension")}}],
         |  "datasets": [{"id": "ds", "load_data": "load.parquet"${extra("lookup")},
         |                "dimensions": {"geography": "geo"}}]
         |}""".stripMargin
    def register(extra: String => String): Registry = {
      val reg = Registry(spark, tmpDir("graft-bulk-null-reg"))
      BulkRegister(reg, manifest(extra), Some(files))
      reg
    }
    val absent = register(_ => "")
    val nulls = register(k => s""", "$k": null""")
    for (reg <- Seq(absent, nulls)) {
      assert(reg.listDimensions() == Seq("geo", "state"))
      assert(reg.dimensionCategory("geo") == "base")
      assert(reg.mappingEndpoints("c2s") == ((None, Some("state"))))
      assert(reg.listDatasets() == Seq("ds") && reg.lookup("ds").isEmpty)
      assert(Registry.checkIntegrity(reg).isEmpty)
    }
    assert(sortedRows(nulls.dataset("ds")) == sortedRows(absent.dataset("ds")))
  }
}
