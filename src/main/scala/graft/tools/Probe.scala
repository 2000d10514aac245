package graft.tools

/** Full-surface scale-probe runner: executes EVERY SparkEntry query
  * against a (typically key-offset-scaled) dataset dir, times each, and
  * REFUSES to report success unless the completed count equals
  * `SparkEntry.queries.size` — the recurring bookkeeping gap (SCALE.md's
  * probe headline lagging the shipped surface in rounds 6, 7 and 8) made
  * structurally impossible: a probe run on a stale build or a partial
  * surface fails loudly instead of publishing a smaller N.
  *
  * An optional second arg restricts the run to a comma-separated query
  * list (exact names) — for focused re-pricing (e.g. the streaming
  * stateful twins under 100× per-user density). Filtered runs print
  * `PROBE-SUBSET` instead of `PROBE`, so a partial run can never be
  * mistaken for (or quoted as) a full-surface headline.
  *
  * The headline states BOTH scale axes: per-table row counts AND the
  * events per-user density (rows / distinct users) — round 11's probe
  * silently dropped the density axis the round-7 probe had stressed,
  * and a "100×" headline that relaxes one stress dimension must say so
  * in numbers (the no-silent-caps doctrine applied to the probe
  * itself).
  *
  * Usage: SPARK_DRIVER_MEM=24g SPARK_GRAFT_CPUS=16 \
  *          tools/run.sh graft.tools.Probe /tmp/probe100 [q1,q2,...]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/probe100")
    val only = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.GraftSession
      .builder(s"local[$cpus]", shufflePartitions = Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Per-table row counts, printed BEFORE the run and again in the
    // headline. Footer-only counts: no data scan.
    val tableCounts = Seq("region", "nation", "customer", "supplier",
        "part", "orders", "lineitem", "documents", "events", "embeddings")
      .map { t =>
        val n =
          try graft.Tables.t(spark, dir, t).count()
          catch { case _: Exception => -1L }
        s"$t=$n"
      }.mkString(" ")
    // The SECOND scale axis: events per-user density (one distinct-count
    // scan of one column — probe tooling can afford it).
    val density =
      try {
        val r = graft.Tables.t(spark, dir, "events")
          .agg(org.apache.spark.sql.functions.count(
                 org.apache.spark.sql.functions.lit(1)),
               org.apache.spark.sql.functions.countDistinct(
                 org.apache.spark.sql.functions.col("user_id")))
          .collect().head
        f"events_per_user=${r.getLong(0).toDouble / r.getLong(1)}%.1f " +
          s"(users=${r.getLong(1)})"
      } catch { case _: Exception => "events_per_user=n/a" }
    println(s"PROBE TABLES $tableCounts $density")
    val surface = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val todo = only match {
      case Some(names) =>
        val missing = names -- surface.map(_._1).toSet
        require(missing.isEmpty, s"unknown queries in filter: $missing")
        surface.filter { case (n, _) => names(n) }
      case None => surface
    }
    val t0 = System.nanoTime()
    var ok = 0
    val failed = collection.mutable.ArrayBuffer[String]()
    val times = collection.mutable.ArrayBuffer[(String, Double, Long)]()
    for ((name, fn) <- todo) {
      val q0 = System.nanoTime()
      try {
        val rows = fn(spark, dir).count()
        ok += 1
        times += ((name, (System.nanoTime() - q0) / 1e9, rows))
      } catch {
        case e: Throwable => failed += s"$name: ${e.getMessage}"
      }
      spark.catalog.clearCache()
    }
    val total = (System.nanoTime() - t0) / 1e9
    println("slowest 15 (rows = answer size):")
    times.sortBy(-_._2).take(15).foreach { case (n, t, r) =>
      println(f"  $t%8.1fs  $r%12d rows  $n")
    }
    failed.foreach(f => println(s"  FAILED $f"))
    val label = if (only.isDefined) "PROBE-SUBSET" else "PROBE"
    // The PAIR-COUNT axis of the dedup families (round-12 ask): the
    // cluster walls are claimed Θ(candidate pairs), and the claim is only
    // checkable round-over-round if each probe prints the measured pair
    // count next to the wall. Counting reads the staged pair artifacts
    // the queries above already committed (Staged.layer), so this is
    // a parquet count, not a re-generation — and it runs only for
    // families whose generator query was in this run's set (a filtered
    // run must never trigger a 2,000 s pair generation as a side
    // effect).
    val ranNames = todo.map(_._1).toSet
    val pairCounts = Seq(
      ("minhash", Set("minhash_pairs", "dedup_clusters"),
        () => graft.ops.Dedup.stagedPairs(spark, dir).count()),
      ("embed0.35", Set("semantic_dedup"),
        () => graft.ops.Dedup.stagedEmbedPairs(spark, dir, 0.35).count()),
      ("embed0.9", Set("embed_neardup"),
        () => graft.ops.Dedup.stagedEmbedPairs(spark, dir, 0.9).count()),
      ("perceptual", Set("mm_neardup", "mm_clusters"),
        () => graft.ops.Multimodal.stagedPerceptualPairs(spark, dir)
                .count())
    ).flatMap { case (fam, gates, cnt) =>
      if (gates.intersect(ranNames).nonEmpty)
        try Some(s"$fam=${cnt()}")
        catch { case e: Exception => Some(s"$fam=err(${e.getMessage})") }
      else None
    }
    if (pairCounts.nonEmpty)
      println(s"$label PAIRS ${pairCounts.mkString(" ")}")
    val n = todo.size
    println(f"$label $ok/$n complete, ${failed.size} failed, " +
      f"$total%.0f s wall, dir=$dir")
    println(s"$label TABLES $tableCounts $density")
    require(ok == n && failed.isEmpty,
      s"probe completed $ok of ${if (only.isDefined) "the filtered set"
        else "SparkEntry.queries.size"}=$n " +
        s"(${failed.size} failed) — the headline may not understate the " +
        "surface")
    spark.stop()
  }
}
