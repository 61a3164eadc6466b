package graft.queries

import org.apache.spark.sql.SparkSession

/** Dev-only per-query timing probe. Args: <dir> <query>... — each query a
  * full registry name or a `qNN` id, resolved by
  * [[graft.SparkEntry.select]]. Runs on `$SPARK_GRAFT_CPUS` cores (default
  * 32, Bench's), two untimed warmups per query (memo builds, JIT), then
  * three timed passes, each split into:
  *   - build: DataFrame construction — any eager work the builder itself
  *     runs (index memo ensure, localCheckpoint barriers, driver collects);
  *   - plan: analysis + optimization + physical planning of the frame;
  *   - exec: execution through the noop sink;
  * with the number of jobs the build ran and the pass ran in total. The
  * last line per query is the min / median pass total and the row count.
  *
  * Fresh JVM per (query, scale), per SCALING.md's method:
  * `SPARK_GRAFT_CPUS=8 sbt "Test/runMain graft.queries.R12Probe
  * <sf-dir> q134"`. A conf A/B is two such runs, each with a
  * `-Dspark.*` JVM option (`sbt 'set javaOptions += "-Dspark.…=…"'
  * "Test/runMain …"`) — SparkConf reads `spark.*` system properties. */
object R12Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val wanted = graft.SparkEntry.select(args.tail.toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def jobs(): Int =
      spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    wanted.foreach { q =>
      // Materialize through the noop sink, NOT count(): count() lets
      // Catalyst prune every unused projection (q86's margin fold) and
      // eliminate cardinality-preserving outer joins (q87's scoring join)
      // — the first probe of round 12 measured a bare scan that way.
      def pass(i: Int): Double = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        val j0 = jobs()
        val (tBuild, df) = t(q.fn(spark, dir))
        val jBuild = jobs() - j0
        val (tPlan, _) = t(df.queryExecution.executedPlan)
        val (tExec, _) = t(df.write.format("noop").mode("overwrite").save())
        val total = tBuild + tPlan + tExec
        if (i > 0) println(f"[r12probe] ${q.name} pass$i build=$tBuild%.2f " +
          f"plan=$tPlan%.2f exec=$tExec%.2f total=$total%.2f " +
          f"buildJobs=$jBuild jobs=${jobs() - j0}")
        total
      }
      pass(0); pass(0)
      val samples = (1 to 3).map(pass).sorted
      println(f"[r12probe] ${q.name} $dir min=${samples.head}%.2f " +
        f"med=${samples(1)}%.2f rows=${q.fn(spark, dir).count()}")
    }
    spark.stop()
  }
}
