package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** The driver contract of [[Bench]]'s stdout: the full line (also the
  * BENCH_TOTAL.json artifact), its merged-priors form, and the compact
  * last line a 2000-character log tail must still parse (BENCH_r03
  * recorded `parsed:null` when the last line was the full map). Pure
  * driver-side logic, no SparkSession needed. */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val sf = "/root/testdata/sf0.1"
  // the real surface, with full-precision medians (the longest numbers
  // Double.toString prints) and one failed query's -1 sentinel
  private val names = SparkEntry.queries.keys.toSeq
  private val medians = names.zipWithIndex.map { case (n, i) =>
    n -> (if (i == 3) -1.0 else 1.0 / 3 + i) }
  private val failed = Seq(names(3))
  private def total(qs: Seq[(String, Double)]) = qs.map(_._2).filter(_ >= 0).sum

  private def parse(line: String): JsonNode = {
    assert(!line.contains("\n"), "a bench line must be one stdout line")
    mapper.readTree(line)
  }

  private def assertDriverFields(j: JsonNode, queries: Seq[(String, Double)]): Unit = {
    assert(j.get("metric").asText() == "total")
    assert(j.get("value").asDouble() == total(queries))
    assert(j.get("unit").asText() == "sec")
    val q = j.get("queries")
    assert(q.fieldNames().asScala.toSeq == queries.map(_._1))
    queries.foreach { case (n, v) => assert(q.get(n).asDouble() == v, n) }
    assert(j.get("failed").elements().asScala.map(_.asText()).toSeq == failed)
    assert(j.get("sf").asText() == sf)
  }

  test("the full line and the merged-priors line parse as JSON carrying every driver-read field") {
    val env = Bench.envBlock(91136L, "32", 3, Some(0.988), "builder")
    val reprobe = Seq(names(5) -> 2.5)
    val full = parse(Bench.fullLine(medians, reprobe, env, failed, sf))
    assertDriverFields(full, medians)
    assert(!full.has("merged_with_prior"))
    assert(full.get("reprobe").get(names(5)).asDouble() == 2.5)
    val e = full.get("env")
    assert(e.fieldNames().asScala.toSeq == Seq("recorded_at", "heap_mib",
      "heap_off_profile", "cpus", "passes", "set_factor", "recorded_by"))
    assert(java.time.Instant.parse(e.get("recorded_at").asText()) != null)
    assert(e.get("heap_mib").asLong() == 91136L && e.get("heap_off_profile").asBoolean())
    assert(e.get("cpus").asInt() == 32 && e.get("passes").asInt() == 3)
    assert(e.get("set_factor").asDouble() == 0.988)
    assert(e.get("recorded_by").asText() == "builder")

    val sorted = medians.sortBy(_._1)
    val merged = parse(Bench.fullLine(sorted, reprobe, env, failed, sf, merged = true))
    assertDriverFields(merged, sorted)
    assert(merged.get("merged_with_prior").asBoolean())

    // no prior at the run's sf: set_factor is an explicit null
    val noPrior = Bench.envBlock(16384L, "4", 1, None, "builder")
    assert(noPrior.get("set_factor").isNull && !noPrior.get("heap_off_profile").asBoolean())
  }

  test("the compact last line carries the total and stays under a 2000-character tail at 191 queries") {
    assert(names.size >= 191)
    val line = Bench.compactLine(medians, failed, sf)
    assert(line.length < 2000, s"${line.length} chars")
    val j = parse(line)
    assert(j.fieldNames().asScala.toSeq == Seq("metric", "value", "unit", "n_queries", "failed", "sf"))
    assert(j.get("metric").asText() == "total")
    assert(j.get("value").asDouble() == total(medians))
    assert(j.get("n_queries").asInt() == names.size)
    assert(j.get("failed").elements().asScala.map(_.asText()).toSeq == failed)
    assert(j.get("sf").asText() == sf)
    // a clean run lists no failures
    val clean = parse(Bench.compactLine(medians.filter(_._2 >= 0), Seq.empty, sf))
    assert(clean.get("failed").isArray && clean.get("failed").size() == 0)
  }
}
