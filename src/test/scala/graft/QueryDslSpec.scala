package graft

import org.apache.spark.sql.SparkSession

class QueryDslSpec extends SparkSpec {

  test("parActions runs every task under the caller's session, whatever thread calls it") {
    val s = spark
    var seen: Seq[Option[SparkSession]] = Nil
    val t = new Thread(() => {
      SparkSession.clearActiveSession()
      seen = QueryDsl.parActions(Seq(1, 2, 3))(_ => SparkSession.getActiveSession)
    })
    t.start()
    t.join()
    assert(seen == Seq.fill(3)(Some(s)))
  }
}
