package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** What each workload runs, read from `workloads.json`, and the seeded
  * choices made from it. The engine never sees the seed: it only receives
  * the query names, data directories and batch timestamps chosen here.
  *
  * query_short's sample is listed by name and is the same in every run; the
  * seed orders each pass. A run affords only about eight distinct queries
  * (each costs one or two seconds of cold setup), and a sample that changed
  * with the seed moved the run's median latency by about 25 % from seed to
  * seed, as much as the change a benchmark must detect.
  */
final case class Plan(
    queries: Seq[String],
    /** The `StreamingBatch` twins in query_short's sample. */
    twins: Seq[String],
    /** refresh's staged consumers, by the staging site each one reads. */
    consumers: Map[String, String]) {

  def names: Seq[String] = (queries ++ twins ++ consumers.values).distinct.sorted

  /** Reject names the engine does not know before anything runs: a typo
    * would otherwise surface only as failed ops. */
  def validate(known: Set[String]): Unit = {
    val unknown = names.filterNot(known)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
  }

  def sampleShort: Seq[String] = queries ++ twins

  /** A pass's order: every pass reshuffles, from the seed and pass number. */
  def order[T](items: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)
}

object Plan {
  def load(path: String): Plan = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    def texts(n: JsonNode) = n.elements().asScala.map(_.asText).toSeq
    val short = root.get("query_short")
    Plan(
      queries = texts(short.get("queries")),
      twins = texts(short.get("twins")),
      consumers = root.get("refresh").get("consumers").fields().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap)
  }
}
