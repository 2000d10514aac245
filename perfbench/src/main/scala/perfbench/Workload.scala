package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{Pipeline, SparkEntry}
import perfbench.Main.{Args, Ctx, Mismatch, Op}

/** The committed expected digests: one per query on the sf0.01 fixtures,
  * plus the refresh cleaned layer's. */
final case class Expected(digests: Map[String, String], cleaned: String) {
  def apply(query: String): Option[String] = digests.get(query)
}

object Expected {
  def load(path: String): Expected = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    Expected(root.get("digests").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap,
             root.get("cleaned").asText)
  }
}

object Workload {

  /** A workload: each pass's ops, by pass number; the first `warmup`
    * passes are untimed. */
  final case class Passes(warmup: Int, ops: Int => Seq[Op])

  def apply(spark: SparkSession, a: Args, plan: Plan, want: Expected): Passes =
    a.workload match {
      case "query_short" =>
        Passes(1, pass => plan.order(plan.sampleShort, a.seed, pass).map(query(spark, a, want)))
      case "refresh" =>
        val consumers = plan.consumers.values.toSeq.distinct.sorted
        val first = new scala.util.Random(a.seed).nextInt(365 * 24) * 3600000L +
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        // Two warm-up cycles: after one, the first timed cycle still ran
        // 10-20 % slower than later ones while the JIT caught up, and with
        // two timed cycles that warming curve was most of the run-to-run
        // spread. (A query pass runs many distinct plans and warms faster.)
        Passes(2, pass => Seq(cycle(spark, a, want, plan.order(consumers, a.seed, pass),
                                    new java.sql.Timestamp(first + pass * 3600000L))))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

  def query(spark: SparkSession, a: Args, want: Expected)(name: String): Op =
    Op(name, ctx => consume(ctx, spark, name, a.data, want(name)))

  /** One query op: the constructor, then the digest action. */
  private def consume(ctx: Ctx, spark: SparkSession, name: String, dir: String,
                      want: Option[String]): Unit = {
    val df = ctx.step("ops.build", name)(SparkEntry.queries(name)(spark, dir))
    val d = ctx.step("action", name)(Digest.of(df))
    ctx.rows += d.rows
    check(d, want)
  }

  def check(d: Digest.Value, want: Option[String]): Unit = want match {
    case Some(w) if w == d.toString => ()
    case Some(w) => throw new Mismatch(s"digest $d, expected $w")
    case None => throw new Mismatch(s"digest $d, and no expected digest committed")
  }

  /** One "new data arrived" cycle: the reference's re-fetch-and-upsert run
    * (ingest, then transform), then fresh copies of the input tables (same
    * bytes, new mtime, so every content fingerprint changes) and one call
    * of every staged consumer, each of which must stage again. */
  private def cycle(spark: SparkSession, a: Args, want: Expected,
                    consumers: Seq[String], ts: java.sql.Timestamp): Op =
    Op(s"cycle@$ts", ctx => {
      ctx.attempt("pipeline") {
        ctx.step("pipeline.ingest", "ingest")(Pipeline.ingest(spark, a.data, a.work, ts))
        ctx.step("pipeline.transform", "transform")(Pipeline.transform(spark, a.work, ts))
        val cleaned = ctx.step("action", "cleaned")(Digest.of(
          spark.read.parquet(s"${a.work}/cleaned").drop("cleaned_at")))
        check(cleaned, Some(want.cleaned))
      }
      ctx.step("refresh.touch", "inputs")(touch(a.data))
      consumers.foreach(q => ctx.attempt(q)(consume(ctx, spark, q, a.data, want(q))))
    })

  /** Rewrite every table file in place with its own bytes. */
  private def touch(dir: String): Unit = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).foreach { f =>
      Files.write(f, Files.readAllBytes(f))
    } finally s.close()
  }
}
