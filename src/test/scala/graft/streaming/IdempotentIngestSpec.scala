package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{AnnIndex, BandIndex, Bucketing, IvfIndex, PostingsIndex}

/** The streaming index loops' batchId-marker idempotence: a foreachBatch
  * retry re-delivers the SAME batch under the SAME batchId, and the sink
  * must append nothing the second time (Spark's exactly-once covers
  * sources and state, not external writes — the marker extends it to
  * the index tables). Each case drives the loop's factored sink body
  * directly, exactly the way a retry re-invokes it; the live-stream
  * spelling (markers advancing across real batches) is regression-covered
  * by StreamingChainSpec's existing index-loop cases, whose batchIds run
  * 0,1,2 over the same bodies. */
class IdempotentIngestSpec extends SparkSpec {

  import spark.implicits._

  private def doc(i: Long): (Long, String) =
    (i, (0 until 8).map(k => s"d${i}w$k").mkString(" "))

  test("postings loop: a replayed batch appends nothing, the marker rides " +
      "in the stats statement, survives compaction, and resets for a new " +
      "stream lineage") {
    PostingsIndex.build(spark, sfDir, "idem_post",
      corpusPred = lit(false), buckets = 4)
    assert(Bucketing.lastCommittedBatch(spark, "idem_post") == -1L,
      "a fresh table carries no marker")

    val b0 = (1L to 5L).map(doc).toDF("doc_id", "text")
    CurationChain.postingsBatch("idem_post", b0, batchId = 0L)
    assert(PostingsIndex.stats(spark, "idem_post")._1 == 5L)
    assert(Bucketing.lastCommittedBatch(spark, "idem_post") == 0L,
      "the marker must commit with the stats fold")

    // the retry: same rows, same batchId — must be a no-op on rows,
    // stats, AND the df companion
    val statsBefore = PostingsIndex.stats(spark, "idem_post")
    CurationChain.postingsBatch("idem_post", b0, batchId = 0L)
    assert(PostingsIndex.stats(spark, "idem_post") == statsBefore,
      "a replayed batch must not re-fold the stats")
    assert(spark.table("idem_post").count() == 40L, // 5 docs x 8 terms
      "a replayed batch must not re-append postings")
    assert(spark.table("idem_post_df")
      .agg(sum("df")).head.getLong(0) == 40L,
      "a replayed batch must not re-append df deltas")

    // the next batch (higher id) appends normally
    CurationChain.postingsBatch("idem_post",
      (6L to 10L).map(doc).toDF("doc_id", "text"), batchId = 1L)
    assert(PostingsIndex.stats(spark, "idem_post")._1 == 10L)

    // a STALE id (out-of-order replay after later batches committed)
    // also skips
    CurationChain.postingsBatch("idem_post", b0, batchId = 0L)
    assert(PostingsIndex.stats(spark, "idem_post")._1 == 10L)

    // compaction carries the marker (graft.* property carry-through), so
    // a replay arriving after maintenance still skips
    PostingsIndex.compact(spark, "idem_post")
    assert(Bucketing.lastCommittedBatch(spark, "idem_post") == 1L,
      "compact must carry the marker through the staged swap")
    CurationChain.postingsBatch("idem_post",
      (6L to 10L).map(doc).toDF("doc_id", "text"), batchId = 1L)
    assert(PostingsIndex.stats(spark, "idem_post")._1 == 10L)

    // a NEW stream lineage (fresh checkpoint, ids restart at 0) must
    // reset the marker first — then batch 0 ingests again
    Bucketing.resetBatchMarker(spark, "idem_post")
    CurationChain.postingsBatch("idem_post",
      (11L to 15L).map(doc).toDF("doc_id", "text"), batchId = 0L)
    assert(PostingsIndex.stats(spark, "idem_post")._1 == 15L)
  }

  test("vector loops: AnnIndex and IvfIndex sink bodies skip a replayed " +
      "batch and append the next one") {
    val pool = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding")
      .orderBy("vec_id").limit(10).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val Seq(v1, v2) = pool.grouped(5).toSeq
    def batchOf(vs: Array[(Long, Int, Seq[Float])]) =
      vs.toSeq.toDF("vec_id", "label", "embedding")

    // ANN: empty seed (the StreamingChainSpec fixture), banding recorded
    val d0 = java.nio.file.Files.createTempDirectory("idemann").toString
    graft.Tables.embeddings(spark, sfDir).limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$d0/embeddings.parquet")
    AnnIndex.build(spark, d0, "idem_ann")
    def annCount(): Long = {
      spark.catalog.refreshTable("idem_ann")
      spark.table("idem_ann").count()
    }
    CurationChain.vectorBatch("idem_ann", batchOf(v1), batchId = 0L)
    val c1 = annCount()
    assert(c1 > 0L)
    CurationChain.vectorBatch("idem_ann", batchOf(v1), batchId = 0L)
    assert(annCount() == c1, "a replayed vector batch must not re-append")
    CurationChain.vectorBatch("idem_ann", batchOf(v2), batchId = 1L)
    assert(annCount() == 2 * c1, // same-size batches, same signature fanout
      "the next batch must append normally")

    // IVF: built over the corpus (the fit needs vec_id < 8 present),
    // replayed batch uses FRESH ids so a double-append would be visible
    IvfIndex.build(spark, sfDir, "idem_ivf", buckets = 4)
    def ivfCount(): Long = {
      spark.catalog.refreshTable("idem_ivf")
      spark.table("idem_ivf").count()
    }
    val base = ivfCount()
    val fresh = batchOf(v1.map { case (id, l, e) => (id + 90000L, l, e) })
    CurationChain.cellBatch("idem_ivf", fresh, batchId = 0L)
    assert(ivfCount() == base + 5L)
    CurationChain.cellBatch("idem_ivf", fresh, batchId = 0L)
    assert(ivfCount() == base + 5L,
      "a replayed cell batch must not re-append")
  }

  test("band loop: a replayed batch appends nothing and emits nothing — " +
      "the marker guards the EMITTED stream where the store's self-collision " +
      "would re-emit admissions as empty") {
    BandIndex.build(spark, sfDir, "idem_band",
      corpusPred = lit(false), buckets = 4)
    val b0 = (1L to 5L).map(doc).toDF("doc_id", "text")
    var emits = Vector.empty[(Long, Set[Long])]
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CurationChain.bandBatch("idem_band", batch, id) { (admitted, bid) =>
        emits :+= (bid,
          admitted.select("doc_id").collect().map(_.getLong(0)).toSet)
      }

    run(b0, 0L)
    spark.catalog.refreshTable("idem_band")
    val rows1 = spark.table("idem_band").count()
    assert(rows1 > 0L)
    assert(emits == Vector((0L, (1L to 5L).toSet)),
      "first delivery admits and emits the whole batch")

    run(b0, 0L) // the retry
    spark.catalog.refreshTable("idem_band")
    assert(spark.table("idem_band").count() == rows1,
      "a replayed batch must not re-append band rows")
    assert(emits.size == 1,
      "a replayed batch must not re-emit (the store's self-collision " +
        "would have emitted the batch as all-dropped)")

    // the gate semantics are untouched by the marker: a LATER batch
    // re-delivering doc 1's text under a fresh doc_id still drops
    run(Seq((99L, doc(1L)._2)).toDF("doc_id", "text"), 1L)
    assert(emits.size == 2 && emits(1)._2.isEmpty,
      "a content near-dup under a fresh id must still drop at the store")
  }

  test("ANN loop maintenance: the adaptive-banding trigger rebands when " +
      "the rule's target differs from the recorded banding, and later " +
      "batches sign with the catalog truth — never a hardcoded banding") {
    val pool = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding")
      .orderBy("vec_id").limit(10).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val Seq(v1, v2) = pool.grouped(5).toSeq
    def batchOf(vs: Array[(Long, Int, Seq[Float])]) =
      vs.toSeq.toDF("vec_id", "label", "embedding")
    val d0 = java.nio.file.Files.createTempDirectory("idemreband").toString
    graft.Tables.embeddings(spark, sfDir).limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$d0/embeddings.parquet")
    AnnIndex.build(spark, d0, "idem_ann_rb") // 4x8 recorded
    // anchors=1000 makes the rule target (24, 8): bitsBalance = 8 (the
    // smallest b with b*2^b >= 1000), tables = 8 + 4*(8-4) = 24 — so the
    // very first checked batch rebands the 4x8 store
    def run(b: Array[(Long, Int, Seq[Float])], id: Long) =
      CurationChain.vectorBatch("idem_ann_rb", batchOf(b), id,
        rebandOnAdaptive = true, rebandCheckEvery = 1,
        rebandAnchors = 1000L)
    run(v1, 0L)
    assert(AnnIndex.recordedBanding(spark, "idem_ann_rb") == ((24, 8)),
      "the trigger must reband to the rule's target")
    spark.catalog.refreshTable("idem_ann_rb")
    assert(spark.table("idem_ann_rb").count() == 5L * 24,
      "the reband must re-sign every ingested vector at the new banding")
    // the next batch signs at the NEW banding (read from the catalog,
    // not from any parameter) and the rule is now satisfied — no reband
    run(v2, 1L)
    spark.catalog.refreshTable("idem_ann_rb")
    assert(spark.table("idem_ann_rb").count() == 10L * 24,
      "post-reband batches must sign with the recorded banding")
    assert(AnnIndex.recordedBanding(spark, "idem_ann_rb") == ((24, 8)))
  }

  test("IVF loop maintenance: the skew trigger refits a drifting store " +
      "with the sample-seeded k-means fit — occupancy rebalances, no row " +
      "is lost, the fit size holds, and appends continue against the new " +
      "fit") {
    val base = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding")
    val span = base.agg(max("vec_id")).head.getLong(0) + 1
    IvfIndex.build(spark, sfDir, "idem_ivf_refit", buckets = 16,
      nCentroids = 8)
    val baseRows = spark.table("idem_ivf_refit").count()

    // drifted batches: base shrunk + offset along one direction, fresh
    // ids — SCALING.md round 18's fit-drift model, fed straight to the sink body with
    // the check on every batch and a tight skew threshold
    val dirLit = typedLit((0 until 64).map(i => ((i % 7) - 3) * 0.1f))
    def driftBatch(b: Int) = base
      .filter(col("vec_id") % 3 === b % 3)
      .select((col("vec_id") + (b + 1) * span).as("vec_id"), col("label"),
        zip_with(col("embedding"), dirLit, (x, d) => x * 0.5f + d)
          .as("embedding"))
    def skew(): Double = {
      val r = IvfIndex.cellStats(spark, "idem_ivf_refit")
        .agg(max(col("n_vectors")), avg(col("n_vectors"))).head()
      r.getLong(0) / r.getDouble(1)
    }
    def run(b: Int) = CurationChain.cellBatch("idem_ivf_refit",
      driftBatch(b), batchId = b, refitAboveSkew = 2.0,
      refitCheckEvery = 1)

    (0 until 3).foreach(run)
    val total = baseRows +
      (0 until 3).map(b => driftBatch(b).count()).sum
    spark.catalog.refreshTable("idem_ivf_refit")
    assert(spark.table("idem_ivf_refit").count() == total,
      "the refit must lose no rows")
    assert(IvfIndex.fitSize(spark, "idem_ivf_refit") == 8,
      "the maintenance refit re-fits at the RECORDED size")
    assert(skew() < 2.0,
      s"after the triggered refit the occupancy skew must sit under " +
        s"the threshold, got ${skew()}")
    // the pair is consistent and appends keep working against the new fit
    run(3)
    spark.catalog.refreshTable("idem_ivf_refit")
    assert(spark.table("idem_ivf_refit").count() ==
      total + driftBatch(3).count())
  }

  test("gated loop: the marker skips a replay before the gate even " +
      "fingerprints it; an all-rejected batch still advances the marker") {
    import graft.queries.Curation
    val sealedT = "idem_sealed"
    val indexT = "idem_gated_post"
    PostingsIndex.build(spark, sfDir, indexT,
      corpusPred = lit(false), buckets = 4)
    // the StreamingChainSpec gated fixture: a one-fp sealed seed and a
    // bloom sized to the capacity (mergeInPlace requires matching sizes)
    val sealedFps = Seq("unrelated presealed seed text").toDF("text")
      .select(Curation.bowFingerprint.as("fp"))
    Curation.sealStore(sealedT, sealedFps, buckets = 8)
    val bloom = sealedFps.select(xxhash64(col("fp")).as("h"))
      .stat.bloomFilter("h", 100L, 0.01)
    val b0 = (1L to 5L).map(doc).toDF("doc_id", "text")

    CurationChain.gatedBatch(sealedT, indexT, bloom, 100L, b0, 0L)
    assert(PostingsIndex.stats(spark, indexT)._1 == 5L)
    spark.catalog.refreshTable(sealedT)
    val sealedRows = spark.table(sealedT).count()

    // replay: skipped at the marker (stats and sealed store untouched)
    CurationChain.gatedBatch(sealedT, indexT, bloom, 100L, b0, 0L)
    assert(PostingsIndex.stats(spark, indexT)._1 == 5L)
    spark.catalog.refreshTable(sealedT)
    assert(spark.table(sealedT).count() == sealedRows)

    // an all-rejected batch (same content, fresh ids, higher batchId):
    // the gate admits nothing, the index stays, the marker still moves
    val dupContent = (11L to 15L).map(i => (i, doc(i - 10L)._2))
      .toDF("doc_id", "text")
    CurationChain.gatedBatch(sealedT, indexT, bloom, 100L, dupContent, 1L)
    assert(PostingsIndex.stats(spark, indexT)._1 == 5L,
      "the content gate must reject the re-crawl")
    assert(Bucketing.lastCommittedBatch(spark, indexT) == 1L,
      "an all-rejected batch is still a completed batch")
  }
}
