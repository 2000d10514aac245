package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PlanSpec extends AnyFunSuite {
  private val plan = Plan.load("workloads.json")

  test("the same seed gives the same pass order; another seed another") {
    val s = plan.sampleShort
    assert(plan.order(s, 7, 3) == plan.order(s, 7, 3))
    assert(plan.order(s, 7, 3) != plan.order(s, 7, 4), "each pass reshuffles")
    assert(plan.order(s, 7, 3) != plan.order(s, 8, 3))
    assert(plan.order(s, 7, 3).sorted == s.sorted)
  }

  test("the sample is the listed queries and twins, each with a committed digest") {
    val s = plan.sampleShort
    assert(s == plan.queries ++ plan.twins)
    assert(s.distinct.size == s.size)
    assert(plan.twins.nonEmpty && plan.twins.forall(_.startsWith("streaming_")))
    val want = Expected.load("expected.json")
    assert(plan.names.filter(want(_).isEmpty).isEmpty)
  }

  test("every named query exists, and unknown names are rejected") {
    val known = graft.SparkEntry.queries.keySet
    plan.validate(known)
    val bad = plan.copy(consumers = plan.consumers + ("site" -> "no_such_query"))
    val e = intercept[IllegalArgumentException](bad.validate(known))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("the reported metric names and units are the ones BENCHMARK.json declares") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def declared(key: String) = {
      val it = root.get(key).elements()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val m = it.next(); b += m.get("name").asText -> m.get("unit").asText }
      b.result()
    }
    assert(declared("end_to_end") == Metrics.endToEnd)
    assert(declared("per_layer") == Metrics.perLayer)
  }
}
