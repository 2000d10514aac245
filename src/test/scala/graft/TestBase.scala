package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Files

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosAsLongKey, "true")
      // mirrors GraftSession: the aggregate threshold, the generated-code
      // cache size and artifact isolation off (extensions omitted: the
      // shared test session registers functions explicitly where needed)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
              "1000000")
      .config("spark.sql.codegen.cache.maxEntries",
              GraftSession.CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Write hand-built mini-tables as a fixture dir shaped like
  * /root/testdata/sfX so the REAL (SparkSession, dir) => DataFrame query
  * functions can run on them end to end. */
object TestFixtures {
  def writeDir(tables: Map[String, DataFrame]): String = {
    val dir = Files.createTempDirectory("graft_fixture").toString
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  /** Replace `dir/name.parquet` in place with `df` written as ONE parquet
    * file — the single-file layout of the driver fixtures, so a stream's
    * staged symlink keeps pointing at the table. */
  def replaceTableFile(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_rewrite")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val s = Files.list(tmp)
    val part =
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    Files.copy(part, java.nio.file.Paths.get(dir, s"$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Staged.deleteRec(tmp)
  }
}
