package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Runs the benchmark itself, traced, on a small plan: refresh must miss
  * every staged consumer on every cycle, and a warm workload must hit. */
class CacheSpec extends AnyFunSuite {
  private val om = new ObjectMapper()
  private val data = Paths.get("data", "sf0.01").toAbsolutePath
  private val consumers = Seq("bloom_prefilter", "bm25_topk", "events_zscore")

  private def plan(dir: Path): String = {
    val p = dir.resolve("workloads.json")
    Files.writeString(p, s"""{
      "query_short": {"queries": ["bloom_prefilter", "bm25_topk", "events_zscore", "q1_agg"],
                      "twins": ["streaming_totals"]},
      "refresh": {"consumers": {${consumers.map(q => s""""$q": "$q"""").mkString(", ")}}}
    }""")
    p.toString
  }

  /** The result line, and the FAILED lines printed before it. */
  private def run(workload: String, dataDir: Path): (JsonNode, String) = {
    val tmp = Files.createTempDirectory("perfbench-spec")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Main.main(Array(
      "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1",
      "--cores", "2", "--plan", plan(tmp), "--expected", "expected.json",
      "--data", dataDir.toString,
      "--work", tmp.resolve("work").toString, "--out", tmp.resolve("spans.json").toString)))
    val lines = out.toString("UTF-8").trim.split("\n")
    (om.readTree(lines.last), lines.filter(_.startsWith("FAILED")).mkString("\n"))
  }

  private def metric(r: JsonNode, name: String) = r.get("metrics").get(name).get("value").asDouble

  test("every refresh cycle misses staging, and its cleaned layer matches") {
    val copy = Files.createTempDirectory("perfbench-spec-data")
    Files.list(data).forEach(f => Files.copy(f, copy.resolve(f.getFileName)))
    val (r, failed) = run("refresh", copy)
    assert(r.get("correct").asBoolean, failed)
    assert(metric(r, "ops.build_hit_ratio") == 0.0)
    assert(metric(r, "pipeline.ingest_s") > 0)
  }

  test("after setup, a warm workload's builds hit and nothing re-stages") {
    val (r, failed) = run("query_short", data)
    assert(r.get("correct").asBoolean, failed)
    assert(metric(r, "ops.build_hit_ratio") == 1.0)
    assert(metric(r, "streaming.batches") >= 1)
  }
}
