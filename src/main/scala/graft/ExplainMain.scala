package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit utility: `sbt "runMain graft.ExplainMain q30 q47"` prints the
  * formatted physical plan of each named query (all headline queries when
  * no names are given) against SPARK_GRAFT_SF_DIR. Names resolve through
  * [[SparkEntry.select]]: a full name or a `qNN` id. The per-operator scale
  * review the build notes require — check pushed filters, pruned schemas,
  * exchange counts, broadcast hints. A query whose builder runs actions
  * DOES execute them here: q124/q149 resolve clusters (q149 also
  * maintains its band store) and take the terminal checkpoint, so their
  * dump is the post-checkpoint scan. For the composite's per-stage plans
  * use `CurationPipeline.stagesForPlanAudit` (what PlanShapeSpec pins). */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", false).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted =
      if (args.nonEmpty) SparkEntry.select(args.toSeq)
      else SparkEntry.registry.filter(_.headline)
    wanted.foreach { q =>
      println(s"===== ${q.name}")
      q.fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
