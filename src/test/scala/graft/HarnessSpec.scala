package graft

import scala.jdk.CollectionConverters._
import graft.tools.{Doctor, Harness}

class HarnessSpec extends SparkSpec {

  test("the harness session resolves fvec_dot and carries the parquet and time-zone config") {
    // the session's initial config: specs may scope runtime confs meanwhile
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sql("SELECT fvec_dot(array(1.0f, 2.0f), array(3.0f, 4.0f))").head().getDouble(0) == 11.0)
  }

  test("a timed noop run reports wall and CPU; a filtered artifact lands in the .partial sidecar") {
    val s = Harness.timed(Harness.noop(spark.range(1000).toDF()))
    assert(s.wall > 0 && s.cpu >= 0)
    val dir = java.nio.file.Files.createTempDirectory("harness_spec")
    val out = Harness.writeArtifact(s"$dir/A.json", Map("pass" -> true), filtered = true)
    assert(out == s"$dir/A.json.partial")
    assert(!java.nio.file.Files.exists(dir.resolve("A.json")))
    assert(java.nio.file.Files.readString(dir.resolve("A.json.partial")) == "{\"pass\":true}\n")
  }

  // golden strings produced by the pre-Jackson string-concatenation code
  test("Bench's compact stdout line keeps its key order and decimal places") {
    val line = Bench.compactLine(Map("q01_agg" -> 1.234, "q10_x" -> 0.005, "q2_y" -> 12.3456),
      2, Seq("q2_y"), contended = false, "/d/sf0.1")
    assert(line == """{"metric":"total","value":13.585,"unit":"sec",""" +
      """"queries":{"q01":1.23,"q10":0.01,"q2":12.35},"runs":2,"errors":["q2_y"],""" +
      """"contended":false,"sf":"/d/sf0.1"}""")
  }

  test("Bench's compact line fits 406 queries in 1500 chars by omitting the fastest") {
    val wall = (1 to 406).map(i => s"q${i}_op" -> ((i * 7919L) % 9973) / 997.3).toMap
    // same length as the sf path the golden line was produced with
    val line = Bench.compactLine(wall, 2, Nil, contended = true, "/srv/testdata/sf0.10")
    assert(line.startsWith("{\"metric\""))
    assert(line.length <= 1500)
    val n = Harness.json.readTree(line)
    val kept = n.get("queries").properties().asScala.map(_.getKey).toSet
    assert(n.get("omitted").asInt == 406 - kept.size)
    val slowest = wall.toSeq.sortBy(-_._2).take(kept.size).map(_._1.takeWhile(_ != '_')).toSet
    assert(kept == slowest)
    assert(line == HarnessSpec.golden406)
  }

  test("the reference update keeps an errored query's min and the newest 4 fixture blocks") {
    val older = (1 to 5).map(i => s"h$i" -> (i.toLong, Map("q1_a" -> 1.0))).toMap
    val cur = "cur" -> (10L, Map("q1_a" -> 2.0, "q2_b" -> 3.0, "q3_c" -> 1.0, "q9_gone" -> 1.0))
    val ref = Bench.updatedReference(older + cur, "cur",
      Map("q1_a" -> 0.0, "q2_b" -> 2.5, "q3_c" -> 1.5, "q4_new" -> 4.0), nowMs = 20L)
    assert(ref.map(_._1) == Seq("cur", "h5", "h4", "h3"))
    // q1_a errored (wall 0): its previous min survives; q9_gone left the catalog
    assert(ref.head._2 == (20L, Map("q1_a" -> 2.0, "q2_b" -> 2.5, "q3_c" -> 1.0, "q4_new" -> 4.0)))
    val fx = Harness.json.readTree(Bench.renderReference(ref)).get("fixtures")
    assert(fx.properties().asScala.iterator.map(_.getKey).toSeq == Seq("cur", "h5", "h4", "h3"))
    assert(fx.get("cur").get("queries").get("q2_b").asDouble == 2.5)
  }

  test("a Doctor row whose detail holds control characters round-trips") {
    val detail = "oracle rc=1 \tFAIL-HASH\r q1 \u0001 \"quoted\" \\ tail"
    val json = Doctor.render(pass = false, "/d/sf0.01", "w",
      Seq(Doctor.Step("verify", ok = false, 12.34, detail)))
    val step = Harness.json.readTree(json).get("steps").get("verify")
    assert(step.get("detail").asText == detail)
    assert(step.get("seconds").toString == "12.3")
  }

  test("Doctor accepts a bench log only when its last line is a JSON object led by metric") {
    assert(Doctor.benchLineOk("noise\n{\"metric\":\"total\",\"value\":1.0}\n"))
    assert(!Doctor.benchLineOk("{\"metric\":\"total\"}\n[success] Total time: 1 s\n"))
    assert(!Doctor.benchLineOk("{\"value\":1.0,\"metric\":\"total\"}"))
    assert(!Doctor.benchLineOk("{\"metric\":\"total\",\"queries\":{\"q1\":1.0"))
    assert(!Doctor.benchLineOk(""))
  }
}

object HarnessSpec {
  // the pre-Jackson compact line for the 406-query input above
  val golden406: String =
    "{\"metric\":\"total\",\"value\":2037.026,\"unit\":\"sec\",\"queries\":{\"q1\":7.94,\"q10\":9.40," +
    "\"q102\":9.92,\"q103\":7.87,\"q107\":9.63,\"q108\":7.57,\"q11\":7.34,\"q112\":9.33,\"q113\":7.27," +
    "\"q117\":9.03,\"q122\":8.73,\"q127\":8.44,\"q132\":8.14,\"q136\":9.90,\"q137\":7.84,\"q141\":9.60," +
    "\"q142\":7.54,\"q146\":9.30,\"q147\":7.24,\"q15\":9.11,\"q151\":9.01,\"q156\":8.71,\"q161\":8.41," +
    "\"q166\":8.11,\"q170\":9.87,\"q171\":7.82,\"q175\":9.58,\"q176\":7.52,\"q180\":9.28,\"q181\":7.22," +
    "\"q185\":8.98,\"q190\":8.68,\"q195\":8.39,\"q20\":8.81,\"q200\":8.09,\"q204\":9.85,\"q205\":7.79," +
    "\"q209\":9.55,\"q210\":7.49,\"q214\":9.25,\"q215\":7.19,\"q219\":8.96,\"q224\":8.66,\"q229\":8.36," +
    "\"q234\":8.06,\"q238\":9.82,\"q239\":7.76,\"q243\":9.53,\"q244\":7.47,\"q248\":9.23,\"q25\":8.51," +
    "\"q253\":8.93,\"q258\":8.63,\"q263\":8.34,\"q268\":8.04,\"q272\":9.80,\"q273\":7.74,\"q277\":9.50," +
    "\"q278\":7.44,\"q282\":9.20,\"q287\":8.91,\"q292\":8.61,\"q297\":8.31,\"q30\":8.21,\"q302\":8.01," +
    "\"q306\":9.77,\"q307\":7.71,\"q311\":9.48,\"q312\":7.42,\"q316\":9.18,\"q321\":8.88,\"q326\":8.58," +
    "\"q331\":8.29,\"q336\":7.99,\"q34\":9.97,\"q340\":9.75,\"q341\":7.69,\"q345\":9.45,\"q346\":7.39," +
    "\"q35\":7.92,\"q350\":9.15,\"q355\":8.86,\"q360\":8.56,\"q365\":8.26,\"q370\":7.96,\"q374\":9.72," +
    "\"q375\":7.66,\"q379\":9.43,\"q380\":7.37,\"q384\":9.13,\"q389\":8.83,\"q39\":9.68,\"q394\":8.53," +
    "\"q399\":8.24,\"q40\":7.62,\"q403\":10.00,\"q404\":7.94,\"q44\":9.38,\"q45\":7.32,\"q49\":9.08," +
    "\"q5\":9.70,\"q54\":8.78,\"q59\":8.49,\"q6\":7.64,\"q64\":8.19,\"q68\":9.95,\"q69\":7.89,\"q73\":9.65," +
    "\"q74\":7.59,\"q78\":9.35,\"q79\":7.29,\"q83\":9.06,\"q88\":8.76,\"q93\":8.46,\"q98\":8.16}," +
    "\"omitted\":291,\"runs\":2,\"errors\":[],\"contended\":true,\"sf\":\"/srv/testdata/sf0.10\"}"
}
