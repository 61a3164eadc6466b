package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The IVF-SQ store: int8 cell payload under the float coarse quantizer
  * — all-cells parity with q38's full quantized scan (the recall-1.0
  * endpoint in the QUANTIZED domain), centroid-frozen incremental
  * append, the storage-routing guards, bucket pruning, and the on-disk
  * compression that is the family's reason to exist. */
class IvfSqSpec extends SparkSpec {

  private def qrows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id", "qcosine", "rank")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq

  private def anchorsOf(n: Int) =
    graft.queries.Similarity.normedVectors(spark, sfDir)
      .filter(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"))
      .localCheckpoint(true)

  test("an all-cells SQ probe equals q38's full quantized ranking " +
      "bit-for-bit (the recall-1.0 endpoint holds in the quantized domain)") {
    IvfIndex.buildSq(spark, sfDir, "ivfsq_all")
    val got = qrows(IvfIndex.topKForSq(spark, "ivfsq_all", anchorsOf(20),
      k = 5, nProbe = IvfIndex.NCentroids))
    val want = qrows(
      graft.SparkEntry.queries("q38_quantized_ann")(spark, sfDir))
    assert(got == want,
      s"all-cells SQ probe diverges from q38: got=${got.take(3)} want=${want.take(3)}")
    // the old route boundary: PruneLiteralLimit anchors and one more
    // both equal q38's full quantized ranking over them, and no query
    // row is broadcast
    val lim = Bucketing.PruneLiteralLimit
    for (n <- Seq(lim, lim + 1)) {
      val probe = IvfIndex.topKForSq(spark, "ivfsq_all", anchorsOf(n), k = 5,
        nProbe = IvfIndex.NCentroids)
      assert(!probe.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"), s"$n anchors broadcast query rows")
      assert(qrows(probe) == qrows(graft.queries.Similarity.quantizedTopK(
        spark, sfDir, nAnchors = n)),
        s"$n anchors: the SQ probe diverges from q38's ranking")
    }
  }

  test("the 2-cell operating point: probed candidates are the FLOAT " +
      "probe's cells (same coarse ranking), and quantized top-3 recall " +
      "against the float ranking is pinned on this fixed corpus") {
    IvfIndex.buildSq(spark, sfDir, "ivfsq_op")
    IvfIndex.build(spark, sfDir, "ivfsq_op_float")
    val sq = qrows(IvfIndex.topKForSq(spark, "ivfsq_op", anchorsOf(20), k = 3))
      .map(r => (r._1, r._2)).toSet
    val fl = IvfIndex.topKFor(spark, "ivfsq_op_float", anchorsOf(20), k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // same candidate rendezvous + a per-vector scale grid on the scores:
    // agreement is high but not 1.0 — the quantization ranking error,
    // deterministic on the fixed corpus, pinned as a floor
    val agree = sq.intersect(fl).size.toDouble / fl.size
    assert(agree >= 0.80,
      f"SQ top-3 agreement with the float ranking fell below the pinned floor: $agree%.2f")
  }

  test("incremental append assigns against the RECORDED centroids and " +
      "quantizes with the shared quantizer: build on a prefix holding " +
      "them, append the rest — store and probes equal the whole-corpus " +
      "build") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val d = java.nio.file.Files.createTempDirectory("ivfsqinc").toString
    def dump(pred: org.apache.spark.sql.Column, sub: String): String = {
      e.filter(pred).coalesce(1)
        .write.mode("overwrite").parquet(s"$d/$sub/embeddings.parquet")
      s"$d/$sub"
    }
    IvfIndex.buildSq(spark, dump(col("vec_id") < 250, "seed"), "ivfsq_inc")
    IvfIndex.appendVectorsSq("ivfsq_inc", e.filter(col("vec_id") >= 250))
    IvfIndex.buildSq(spark, dump(lit(true), "all"), "ivfsq_whole")
    spark.catalog.refreshTable("ivfsq_inc")
    val grown = spark.table("ivfsq_inc")
      .select(col("cell"), col("vec_id"), col("qv"), col("qnrm"))
      .orderBy("vec_id").collect().toSeq
    val whole = spark.table("ivfsq_whole")
      .select(col("cell"), col("vec_id"), col("qv"), col("qnrm"))
      .orderBy("vec_id").collect().toSeq
    assert(grown == whole,
      "append-grown SQ store diverges from the whole-corpus build row-for-row")
    assert(qrows(IvfIndex.topKForSq(spark, "ivfsq_inc", anchorsOf(20), k = 3)) ==
      qrows(IvfIndex.topKForSq(spark, "ivfsq_whole", anchorsOf(20), k = 3)),
      "SQ append diverges from the whole-corpus build at the probe")
  }

  test("storage routing is loud both ways, and refit refuses a store " +
      "that kept only codes") {
    IvfIndex.buildSq(spark, sfDir, "ivfsq_route")
    IvfIndex.build(spark, sfDir, "ivfsq_route_float", buckets = 4)
    val a = anchorsOf(2)
    val e1 = intercept[IllegalArgumentException] {
      IvfIndex.topKFor(spark, "ivfsq_route", a, k = 3)
    }
    assert(e1.getMessage.contains("topKForSq"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IvfIndex.topKForSq(spark, "ivfsq_route_float", a, k = 3)
    }
    assert(e2.getMessage.contains("buildSq"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      IvfIndex.appendVectors("ivfsq_route",
        graft.Tables.embeddings(spark, sfDir).limit(1))
    }
    assert(e3.getMessage.contains("appendVectorsSq"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      IvfIndex.appendVectorsSq("ivfsq_route_float",
        graft.Tables.embeddings(spark, sfDir).limit(1))
    }
    assert(e4.getMessage.contains("buildSq"), e4.getMessage)
    // the stated trade: codes cannot be re-fit — maintenance = rebuild
    val e5 = intercept[IllegalArgumentException] {
      IvfIndex.refit(spark, "ivfsq_route", nCentroids = 4)
    }
    assert(e5.getMessage.contains("rebuild"), e5.getMessage)
  }

  test("the streaming SQ loop: batches append codes against the recorded " +
      "fit, a replayed batch appends nothing (the marker), and the " +
      "stream-grown store equals the batch rebuild row-for-row") {
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, sfDir)
    val d = java.nio.file.Files.createTempDirectory("ivfsqstream").toString
    e.filter(col("vec_id") < 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$d/seed/embeddings.parquet")
    IvfIndex.buildSq(spark, s"$d/seed", "ivfsq_stream")
    val rest = e.filter(col("vec_id") >= 250)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val Seq(b1, b2) = rest.grouped((rest.length + 1) / 2).toSeq
    def run(b: Array[(Long, Int, Seq[Float])], id: Long) =
      graft.streaming.CurationChain.sqCellBatch("ivfsq_stream",
        b.toSeq.toDF("vec_id", "label", "embedding"), id)
    run(b1, 0L); run(b2, 1L)
    run(b2, 1L) // a foreachBatch retry re-delivers under the same id
    e.coalesce(1).write.mode("overwrite")
      .parquet(s"$d/all/embeddings.parquet")
    IvfIndex.buildSq(spark, s"$d/all", "ivfsq_stream_ref")
    spark.catalog.refreshTable("ivfsq_stream")
    def rows(t: String) = spark.table(t)
      .select("cell", "vec_id", "qv", "qnrm")
      .orderBy("vec_id").collect().toSeq
    assert(rows("ivfsq_stream") == rows("ivfsq_stream_ref"),
      "stream-grown SQ store diverges from the batch rebuild (or the " +
        "replayed batch double-appended)")
  }

  test("rebuildSq == fresh buildSq at the same fit (the scheduled fit-" +
      "maintenance op): contents, fit versions, and probes identical; " +
      "markers carried; an incomplete corpus is refused") {
    IvfIndex.buildSq(spark, sfDir, "ivfsq_rb")
    Bucketing.recordBatch(spark, "ivfsq_rb", 7L) // a marker to carry
    val e = graft.Tables.embeddings(spark, sfDir)
    // an incomplete corpus would silently delete the missing ids — loud
    val half = e.filter(col("vec_id") % 2 === 0)
    val eInc = intercept[IllegalArgumentException] {
      IvfIndex.rebuildSq(spark, "ivfsq_rb", half, nCentroids = 16)
    }
    assert(eInc.getMessage.contains("lacks"), eInc.getMessage)
    // the real rebuild: new 16-centroid fit from the source corpus
    IvfIndex.rebuildSq(spark, "ivfsq_rb", e, nCentroids = 16)
    IvfIndex.buildSq(spark, sfDir, "ivfsq_rb_twin", nCentroids = 16)
    def rows(t: String) = spark.table(t)
      .select("cell", "vec_id", "qv", "qnrm")
      .orderBy("vec_id").collect().toSeq
    assert(rows("ivfsq_rb") == rows("ivfsq_rb_twin"),
      "rebuilt SQ store diverges from a fresh build at the same fit")
    assert(qrows(IvfIndex.topKForSq(spark, "ivfsq_rb", anchorsOf(20), 3)) ==
      qrows(IvfIndex.topKForSq(spark, "ivfsq_rb_twin", anchorsOf(20), 3)),
      "post-rebuild probe diverges from the fresh build's")
    assert(Bucketing.lastCommittedBatch(spark, "ivfsq_rb") == 7L,
      "rebuildSq must carry the streaming loop's batch marker")
    // and the store still appends/probes under the new fit's guard
    IvfIndex.appendVectorsSq("ivfsq_rb", e.filter(col("vec_id") === 9999L))
  }

  test("the SQ drift advisor: detection without self-repair — the " +
      "streaming sink logs and enqueues the rebuildSq instruction, never " +
      "rewrites the store") {
    import spark.implicits._
    IvfIndex.buildSq(spark, sfDir, "ivfsq_adv")
    val before = spark.table("ivfsq_adv").count()
    graft.streaming.SqDriftAdvisor.clearAll()
    // threshold 1.0: any non-uniform occupancy advises (the q37 fit over
    // the test corpus is never perfectly uniform — 500 vecs, 8 cells)
    graft.streaming.CurationChain.sqCellBatch("ivfsq_adv",
      Seq((100000L, 0, (0 until 64).map(_.toFloat)))
        .toDF("vec_id", "label", "embedding"),
      batchId = 0L, adviseAboveSkew = 1.0, adviseCheckEvery = 1)
    val msgs = graft.streaming.SqDriftAdvisor.advised("ivfsq_adv")
    assert(msgs.nonEmpty && msgs.head.contains("rebuildSq"),
      s"the advisor must name the rebuild op: $msgs")
    assert(graft.streaming.SqDriftAdvisor.advised("some_other_table").isEmpty,
      "advisories must be keyed per table")
    // the scheduler verb: drain reads and acknowledges in one call
    assert(graft.streaming.SqDriftAdvisor.drain("ivfsq_adv") == msgs)
    assert(graft.streaming.SqDriftAdvisor.advised("ivfsq_adv").isEmpty,
      "drain must clear the table's pending advisories")
    spark.catalog.refreshTable("ivfsq_adv")
    assert(spark.table("ivfsq_adv").count() == before + 1,
      "the advisory path must only append the batch — never rewrite")
  }

  test("dot_fold_i8 fails loudly on a dimension mismatch — an SQ store's " +
      "code length is fixed at build, so truncation would be silent " +
      "corruption, not a ragged-input convenience") {
    import spark.implicits._
    graft.plans.GraftExtensions.install(spark)
    // Seq[Byte], not Array[Byte]: the array form encodes as BinaryType
    // and dies at type-check instead of exercising the dimension guard
    val df = Seq((Seq[Byte](1, 2, 3), Seq(1.0, 2.0)))
      .toDF("codes", "q")
    val e = intercept[Exception] {
      df.selectExpr("dot_fold_i8(codes, q)").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(6)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("dims"), s"expected the dimension message: $msgs")
    // equal dims still fold exactly
    val ok = Seq((Seq[Byte](1, 2, 3), Seq(1.0, 2.0, 3.0)))
      .toDF("codes", "q")
      .selectExpr("dot_fold_i8(codes, q)").head().getDouble(0)
    assert(ok == 14.0)
  }

  test("a few-anchor SQ probe bucket-prunes, and the store's data files " +
      "are materially smaller than the float store's (the family's point)") {
    IvfIndex.buildSq(spark, sfDir, "ivfsq_small", buckets = 8)
    IvfIndex.build(spark, sfDir, "ivfsq_big", buckets = 8)
    val plan = IvfIndex.topKForSq(spark, "ivfsq_small", anchorsOf(2), k = 3)
      .queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in the SQ probe:\n${plan.take(800)}")
    assert(sel.get.group(1).toInt <= 4 && sel.get.group(2).toInt == 8)
    def bytesOf(table: String): Long = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location
      val dir = java.nio.file.Paths.get(loc)
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator.asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => java.nio.file.Files.size(p)).sum
      }
    }
    val (sq, fl) = (bytesOf("ivfsq_small"), bytesOf("ivfsq_big"))
    assert(sq < fl / 2,
      s"SQ store must be well under half the float store's bytes: sq=$sq float=$fl")
  }
}
