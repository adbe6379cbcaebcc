package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** Bench's per-query record: `runSuite` hands `report` one JSON line
  * per timed query, and the jsonl artifact is those lines. */
class BenchSpec extends SparkSpec {

  private val Fields = Seq("query", "sec", "runs", "stat", "spread",
    "codegen_compiles", "codegen_ms", "sf")

  test("runSuite reports one parseable record per selected query") {
    val only = Set("q1_agg", "text_normalize")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = Bench.runSuite(spark, sfDir, runs = 1, only = Some(only),
      report = l => lines += l, verbose = false)
    assert(results.map(_._1).toSet == only)
    val json = new ObjectMapper()
    val records = lines.toSeq.map(l => json.readTree(l))
    assert(records.map(_.get("query").asText).toSet == only)
    records.foreach { r =>
      Fields.foreach(f => assert(r.has(f), s"no $f in $r"))
      assert(r.get("sec").asDouble >= 0, s"failed or negative sec: $r")
      assert(r.get("runs").asInt == 1, r.toString)
      assert(r.get("stat").asText == "median1", r.toString)
      assert(r.get("spread").asDouble == 0.0, r.toString)
      assert(r.get("codegen_compiles").asLong >= 0, r.toString)
      assert(r.get("codegen_ms").asDouble >= 0, r.toString)
      assert(r.get("sf").asText == sfDir, r.toString)
    }
  }
}
