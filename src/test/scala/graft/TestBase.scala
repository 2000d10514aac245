package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path}

/** One shared local SparkSession for all suites, with the engine's
  * settings ([[GraftSession.settings]]) minus its extensions: the shared
  * session registers functions explicitly where a spec needs them. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config(GraftSession.settings.toMap)
      .config("spark.sql.shuffle.partitions", "4")
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
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  sys.addShutdownHook(tempDirs.forEach { d =>
    try Staged.deleteRec(d) catch { case _: java.io.IOException => () }
  })

  /** A fresh temp dir under `java.io.tmpdir`, deleted when the JVM exits.
    * Every spec makes its scratch dirs here, so a suite run leaves none
    * behind. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  def writeDir(tables: Map[String, DataFrame]): String = {
    val dir = tempDir("graft_fixture").toString
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  /** Write `df` hive-style partitioned: one directory per distinct value
    * of `parts`, the layout whose equality predicates on a key prune
    * whole directories and which `Pipeline.compact` rewrites. */
  def writePartitioned(df: DataFrame, path: String,
                       parts: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(parts: _*).parquet(path)

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

/** Count the Spark jobs a block starts. */
object Jobs {
  import org.apache.spark.graft.ListenerBridge
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import scala.jdk.CollectionConverters._

  /** `body`'s result and the SQL execution id of every job started while
    * it ran: None for a job outside any SQL execution (a parquet
    * schema-inference job, an RDD action). */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[Option[String]]) = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        ids.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBridge.drain(sc)
      (r, ids.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}
