package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** What [[Bench.materialize]] records: the gate decisions made while a
  * query was built, and the counts Bench's JSON line reports per query
  * next to the keys it always had. */
class QueryRecordSpec extends AnyFunSuite {
  private def s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("each run's record carries its one anomaly decision, probed or forced") {
    val bytes = Tables.sourceBytes(s, d, "events").toDouble
    val min = ops.TimeSeries.AnomalySplitMinBytes.toDouble
    def anomaly(key: Option[String]): Gate.Decision = {
      key.foreach(s.conf.set(Gate.Key, _))
      val gates =
        try Bench.materialize(s, d, "q_ts_anomaly")(Bench.execute).gates
        finally s.conf.unset(Gate.Key)
      assert(gates.map(_.name) == Seq("anomaly"), gates)
      gates.head
    }
    val probed = anomaly(None)
    assert(probed == Gate.Decision("anomaly", Some(bytes), min, large = false))
    assert(!probed.forced && probed.probed == bytes.toLong.toString)
    for ((key, large) <- Seq("small" -> false, "large" -> true)) {
      val forced = anomaly(Some(key))
      assert(forced == Gate.Decision("anomaly", None, min, large), key)
      assert(forced.forced && forced.probed == "-" && forced.path == key)
    }
  }

  private def rec(n: String, sec: Double, jobs: Int, construct: Int) =
    QueryRecord(n, sec, Nil, jobs = jobs, constructJobs = construct,
      stages = Seq(QueryRecord.Stage(1, "Exchange", 10, 2, 1500000000L,
        0L, 100L, 200L, 7L)))

  test("Bench's line: the old keys byte for byte, counts from the min pass") {
    val runs: Seq[(String, Seq[Bench.Run])] = Seq(
      "q_a" -> Seq(Right(rec("q_a", 2.0, 3, 1)), Right(rec("q_a", 1.5, 4, 1))),
      "q_b" -> Seq(Left((0.25, "boom \"x\"")), Right(rec("q_b", 0.5, 2, 0))),
      "s_c" -> Seq(Right(rec("s_c", 0.75, 1, 1)), Left((0.125, "late"))))
    assert(Bench.line("/sf", runs) ==
      """{"metric":"total","value":1.875,"unit":"sec",""" +
      """"queries":{"q_a":1.5,"q_b":0.25,"s_c":0.125},""" +
      """"spread":{"q_a":[1.5,2.0],"q_b":[0.25,0.5],"s_c":[0.125,0.75]},""" +
      """"errors":{"q_b":"boom \"x\"","s_c":"late"},"sf":"/sf",""" +
      """"jobs":{"q_a":4,"q_b":null,"s_c":null},""" +
      """"construct_jobs":{"q_a":1,"q_b":null,"s_c":null},""" +
      """"stages":{"q_a":1,"q_b":null,"s_c":null},""" +
      """"cpu_s":{"q_a":1.5,"q_b":null,"s_c":null},""" +
      """"shuffle_bytes":{"q_a":200,"q_b":null,"s_c":null},""" +
      """"spill_bytes":{"q_a":7,"q_b":null,"s_c":null}}""")
  }

  test("Bench's line from real records: every count keyed by the queries") {
    val names = Seq("q_agg_hash", "q_llm_sim_ann")
    val runs = names.map(n =>
      n -> Seq.fill(2)(Right(Bench.materialize(s, d, n)(Bench.execute)): Bench.Run))
    val json = new ObjectMapper().readTree(Bench.line(d, runs))
    def keys(field: String) = json.get(field).fieldNames().asScala.toSet
    for (f <- Seq("queries", "spread", "errors", "sf", "metric", "value", "unit"))
      assert(json.has(f), f)
    for (f <- Seq("jobs", "construct_jobs", "stages", "cpu_s", "shuffle_bytes",
                  "spill_bytes"))
      assert(keys(f) == keys("queries"), f)
    for (n <- names) {
      val (jobs, construct) = (json.get("jobs").get(n).asInt, json.get("construct_jobs").get(n).asInt)
      assert(construct <= jobs && jobs > 0, s"$n: $construct construct of $jobs jobs")
      assert(json.get("stages").get(n).asInt > 0, n)
    }
    // the codebook is trained while q_llm_sim_ann is built
    assert(json.get("construct_jobs").get("q_llm_sim_ann").asInt > 0)
  }
}
