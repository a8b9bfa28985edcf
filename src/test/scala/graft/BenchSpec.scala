package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** `Bench.run`'s output contract: one JSON object on one line, under the
  * ~1.8 KB tail budget build.sbt documents, where a failing entry is named
  * under `errors` and contributes to no median and no total.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("one compact JSON line; a failing entry is listed and timed nowhere") {
    val broken: Bench.Entry = (s, _) => s.sql("SELECT no_such_column FROM range(1)")
    val line = Bench.run(spark, TestSpark.sfDir,
      Seq("tpch_q6" -> SparkEntry.queries("tpch_q6"), "q_broken" -> broken))
    assert(!line.contains('\n') && line.length <= 1800, line)
    val json = JsonMethods.parse(line)
    val JObject(fields) = json
    val JObject(queries) = json \ "queries"
    assert(fields.map(_._1).distinct.size == fields.size, line)
    assert(json \ "errors" == JArray(List(JString("q_broken"))), line)
    assert(json \ "failed" == JInt(1), line)
    assert(json \ "master" == JString(spark.sparkContext.master), line)
    assert(json \ "sf" == JString(TestSpark.sfDir), line)
    // q_broken would fall into the relational family total
    assert(queries.map(_._1) == List("tpch_q6"), line)
    val JDouble(q6) = json \ "queries" \ "tpch_q6"
    val JDouble(total) = json \ "value"
    assert(q6 > 0 && total == q6, line)
  }
}
