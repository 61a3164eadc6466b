package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.queries.Similarity

/** The point-probe job budget: a one-query probe of each family over a
  * small 4-bucket store runs its query side on the driver and its store
  * side as one pruned scan-and-rank plan, so it spends a handful of Spark
  * jobs — counted here with a listener on the probe's own job group. The
  * query sides are shaped like a serving client's: a literal (query_id,
  * text) row for the lexical families, and vectors normed and signed by
  * the engine's own pipeline for the vector families. */
class PointProbeSpec extends SparkSpec {

  private lazy val stores: Unit = {
    PostingsIndex.build(spark, sfDir, "point_post", buckets = 4)
    AnnIndex.build(spark, sfDir, "point_ann", buckets = 4)
    IvfIndex.build(spark, sfDir, "point_ivf", buckets = 4)
    BandIndex.build(spark, sfDir, "point_band", buckets = 4)
  }

  /** Jobs the body starts in its own job group, once the listener bus has
    * delivered every start and end. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"point-${System.nanoTime()}"
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val (started, ended) = (new AtomicInteger, new AtomicInteger)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          ours.add(e.jobId)
          started.incrementAndGet()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (ours.contains(e.jobId)) ended.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while ((started.get == 0 || started.get != ended.get) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200)
    sc.removeSparkListener(l)
    started.get
  }

  private def text(id: Long): String = graft.Tables.documents(spark, sfDir)
    .filter(col("doc_id") === id).select("text").head().getString(0)

  private def vector(id: Long) = Similarity.normedVectorsOf(spark,
    graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") === id))

  test("a one-query probe of every family stays in its job budget: " +
      "postings ≤ 4, ann ≤ 4, ivf ≤ 5, band ≤ 6") {
    stores
    import spark.implicits._
    // every query side is built before counting: reading a parquet
    // table's schema is a job of its own
    val lexical = Seq((9000001L, text(5L)))
    val corpus = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val v = vector(3L)
    val (t, b) = AnnIndex.recordedBanding(spark, "point_ann")
    val anchors = Similarity.signatureRowsOf(v, t, b)
    val ivfAnchors = v.select(col("vec_id").as("query_id"), col("v"), col("nrm"))
    val jobs = Map(
      "postings" -> jobsOf(PostingsIndex.topKFor(spark, "point_post",
        lexical.toDF("query_id", "text"), 5).collect()),
      "ann" -> jobsOf(AnnIndex.topKFor(spark, "point_ann", anchors, 5)
        .collect()),
      "ivf" -> jobsOf(IvfIndex.topKFor(spark, "point_ivf", ivfAnchors, 3)
        .collect()),
      "band" -> jobsOf(BandIndex.nearDupsFor(spark, "point_band", corpus,
        lexical.toDF("doc_id", "text")).collect()))
    val budget = Map("postings" -> 4, "ann" -> 4, "ivf" -> 5, "band" -> 6)
    assert(jobs.forall { case (f, n) => n > 0 && n <= budget(f) },
      s"per-probe jobs $jobs over budget $budget")
  }
}
