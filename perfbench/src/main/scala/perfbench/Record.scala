package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{GraftSession, Pipeline, SparkEntry}

/** Records the digests the benchmark expects: one per named query, and
  * the refresh cleaned layer's. Every query runs twice; a digest that
  * differs between the two runs is reported as unstable.
  *
  * Args: cores, data dir, work dir, output file, then query names.
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val Seq(cores, data, work, out, names @ _*) = argv.toSeq
    val spark = GraftSession
      .builder(s"local[$cores]", shufflePartitions = Some(cores.toInt))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val om = new ObjectMapper()
    val res = om.createObjectNode()
    val digests = res.putObject("digests")
    val failed = res.putObject("failed")
    try {
      val unknown = names.filterNot(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
      names.foreach { q =>
        try {
          def once() = {
            val d = Digest.of(SparkEntry.queries(q)(spark, data)).toString
            spark.catalog.clearCache()
            d
          }
          val (d1, d2) = (once(), once())
          if (d1 == d2) digests.put(q, d1)
          else failed.put(q, s"unstable digest: $d1 then $d2")
        } catch { case e: Throwable =>
          failed.put(q, s"${e.getClass.getName}: ${e.getMessage}".take(500))
        }
      }
      Pipeline.run(spark, data, work, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      res.put("cleaned", Digest.of(
        spark.read.parquet(s"$work/cleaned").drop("cleaned_at")).toString)
      Files.writeString(Paths.get(out), om.writerWithDefaultPrettyPrinter.writeValueAsString(res))
    } finally spark.stop()
  }
}
