package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.query.{Json => QueryJson, Submitter}
import graft.sources.Writers

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir: Path = Files.createDirectories(Path.of("target", "spec-work").toAbsolutePath)
  private lazy val spark: SparkSession = {
    val s = graft.core.GraftSession
      .builder(master = "local[2]", shufflePartitions = 4)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def ctx(name: String, seed: Long) =
    Ctx(spark, new Tracer(spark, enabled = false), dir.resolve(s"$name-$seed"), seed)

  test("the same seed and factor give the same content hash; another seed does not") {
    def hash(seed: Long) = {
      val l = Gen.CountyLayout(spark, seed, factor = 1, hours = 48)
      Gen.contentHash(l.dimensions ++ Seq("mapping" -> l.mapping, "load" -> l.loadData))
    }
    assert(hash(11) == hash(11))
    assert(hash(11) != hash(12))
    def regionHash(seed: Long) = {
      val l = Gen.RegionLayout(spark, seed, factor = 1, hours = 48)
      Gen.contentHash(l.dimensions ++ Seq("mapping" -> l.mapping, "load" -> l.loadData, "lookup" -> l.lookup))
    }
    assert(regionHash(11) == regionHash(11))
    assert(regionHash(11) != regionHash(12))
  }

  test("registered layouts pass their self-checks: row counts and fraction sums") {
    val county = Gen.CountyLayout(spark, 5, factor = 1, hours = 24)
    assert(county.selfCheck(county.register(dir.resolve("self-county").toString)).isEmpty)
    val region = Gen.RegionLayout(spark, 5, factor = 1, hours = 24)
    assert(region.selfCheck(region.register(dir.resolve("self-region").toString)).isEmpty)
  }

  test("the disaggregation check passes on the real output and fails on a perturbed one") {
    val wl = new CountyDisaggWrite(ctx("disagg", 3), hours = 24)
    assert(wl.prepare(wl.register(dir.resolve("disagg-reg").toString)).isEmpty)
    assert(wl.untraced(0).ok)
    val out = dir.resolve("disagg-out").toString
    Writers.parquetAutoPartition(spark, new Submitter(wl.registry).submit(QueryJson.parseProjectQuery(wl.doc)), out)
    val written = spark.read.parquet(out)
    assert(wl.checkOutput(written).isEmpty)
    val county = written.select("geography").head().getString(0)
    val perturbed = written.withColumn("value",
      when(col("geography") === county, col("value") * 1.0001).otherwise(col("value")))
    assert(wl.checkOutput(perturbed).exists(_.startsWith("column value sums to")))
    assert(wl.checkOutput(written.filter(col("geography") =!= county)).size == 2)
  }

  test("the interactive check passes on a real result and fails on a perturbed one") {
    val wl = new InteractiveCached(ctx("interactive", 4), hours = 24 * 56)
    assert(wl.prepare(wl.register(dir.resolve("interactive-reg").toString)).isEmpty)
    val q = wl.stream.head
    val rows = new Submitter(wl.registry).submit(QueryJson.parseProjectQuery(q.doc())).collect()
    assert(wl.checkResult(q, rows).isEmpty)
    val metric = rows.head.schema.fieldNames.last
    val perturbed: Array[Row] = rows.map { r =>
      val i = r.fieldIndex(metric)
      new GenericRowWithSchema(r.toSeq.updated(i, r.getDouble(i) + 1e-3).toArray, r.schema)
    }
    assert(wl.checkResult(q, perturbed).exists(_.contains(s"column $metric")))
    assert(wl.checkResult(q, rows.take(1)).nonEmpty)
  }

  test("result equality tolerates summation order, not a changed value") {
    val a = spark.createDataFrame(Seq(("CA", 1.0 / 3), ("TX", 2.0))).toDF("geography", "value").collect()
    val reordered = spark.createDataFrame(Seq(("TX", 2.0), ("CA", (1.0 + 1e-15) / 3))).toDF("geography", "value").collect()
    val changed = spark.createDataFrame(Seq(("TX", 2.0), ("CA", 0.34))).toDF("geography", "value").collect()
    assert(Checks.sameRows(a, reordered, Seq("geography"), Seq("value")).isEmpty)
    assert(Checks.sameRows(a, changed, Seq("geography"), Seq("value")).nonEmpty)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.Tail(30.0, 75.0, 10))
    assert(Stats.tail(xs.take(15)).percentile == 50.0)
  }
}
