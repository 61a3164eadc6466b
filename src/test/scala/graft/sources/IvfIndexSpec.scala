package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted IVF cell store: bit-exact parity with q37's
  * recompute-per-run path, cell-level bucket pruning, centroid-frozen
  * incremental append, and the missing-companion guard — the
  * AnnIndexSpec/PostingsIndexSpec pattern on the third index family. */
class IvfIndexSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id", "cosine", "rank")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq

  test("topK over the persisted cells equals q37's recompute exactly") {
    IvfIndex.build(spark, sfDir, "ivf_parity")
    val got = rows(IvfIndex.topK(spark, "ivf_parity", nAnchors = 20, k = 3))
    val want = rows(
      graft.SparkEntry.queries("q37_ivf_ann")(spark, sfDir))
    assert(got == want,
      s"IVF probe diverges from recompute: got=${got.take(3)} want=${want.take(3)}")
    // the old route boundary: PruneLiteralLimit anchors and one more
    // both equal q37's recompute over them, prune the scan to their
    // probed cells (never more than the fit's centroids) and broadcast
    // no query rows
    val lim = Bucketing.PruneLiteralLimit
    assert(spark.table("ivf_parity").filter(col("vec_id") < lim + 1)
      .select("vec_id").distinct().count() == lim + 1)
    for (n <- Seq(lim, lim + 1)) {
      val probe = IvfIndex.topK(spark, "ivf_parity", nAnchors = n, k = 3)
      val plan = probe.queryExecution.executedPlan.toString
      assert(prunesByLiteral(probe) &&
        !plan.contains("BroadcastExchange"), s"$n anchors:\n$plan")
      assert(rows(probe) ==
        rows(graft.queries.Similarity.ivfTopK(spark, sfDir, nAnchors = n)),
        s"$n anchors: the IVF probe diverges from q37's recompute")
    }
  }

  test("a few-anchor probe reads only its n-probe cells (bucket-pruned)") {
    IvfIndex.build(spark, sfDir, "ivf_prune", buckets = 8)
    val plan = IvfIndex.topK(spark, "ivf_prune", nAnchors = 2, k = 3)
      .queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in the IVF probe:\n$plan")
    val (selected, total) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
    // 2 anchors × 2-cell probes = at most 4 of the 8 cell buckets
    assert(total == 8 && selected <= 4 && selected < total,
      s"expected ≤4 of 8 buckets for a 2-anchor probe, got $selected out of $total")
  }

  test("incremental append assigns against the RECORDED centroids: build " +
      "on a prefix holding them, append the rest — probes equal the " +
      "whole-corpus build") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val d = java.nio.file.Files.createTempDirectory("ivfinc").toString
    def dump(pred: org.apache.spark.sql.Column, sub: String): String = {
      e.filter(pred).coalesce(1)
        .write.mode("overwrite").parquet(s"$d/$sub/embeddings.parquet")
      s"$d/$sub"
    }
    // the seed contains vec_id 0..7, so its centroid set IS the whole
    // corpus's — the precondition for append ≡ rebuild, stated in the
    // build scaladoc
    IvfIndex.build(spark, dump(col("vec_id") < 250, "seed"), "ivf_inc")
    IvfIndex.appendVectors("ivf_inc",
      e.filter(col("vec_id") >= 250))
    IvfIndex.build(spark, dump(lit(true), "all"), "ivf_whole")
    assert(rows(IvfIndex.topK(spark, "ivf_inc", nAnchors = 20, k = 3)) ==
      rows(IvfIndex.topK(spark, "ivf_whole", nAnchors = 20, k = 3)),
      "centroid-frozen append diverges from the whole-corpus build")
    // appended rows landed in the recorded cells: every cell id is a
    // centroid id
    val cells = spark.table("ivf_inc").select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf((0L until IvfIndex.NCentroids.toLong).toSet),
      s"append invented cells outside the recorded centroids: $cells")
  }

  test("geometry is a build-time parameter: a 16-cell fit spreads the " +
      "corpus wider, probing ALL cells recovers the exact ranking (the " +
      "nlist/nprobe dial's endpoint), and the 2-cell probe's recall on " +
      "this fixed corpus is pinned") {
    import org.apache.spark.sql.expressions.Window
    IvfIndex.build(spark, sfDir, "ivf_wide", buckets = 16, nCentroids = 16)
    assert(spark.table(IvfIndex.centTableOf("ivf_wide")).count() == 16L,
      "the companion must record the widened fit")
    val cells = spark.table("ivf_wide").select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf((0L until 16L).toSet) && cells.size > 8,
      s"the 16-centroid fit must occupy more than q37's 8 cells: $cells")
    val normed = graft.queries.Similarity.normedVectors(spark, sfDir)
      .localCheckpoint(true)
    val anchors = normed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"))
      .localCheckpoint(true)
    // nProbe = nlist reads every cell → candidates = corpus minus self →
    // the probe IS exact brute force (the dial's recall-1.0 endpoint)
    val gotAll = rows(IvfIndex.topKFor(spark, "ivf_wide", anchors,
      k = 3, nProbe = 16))
    val cosX = graft.queries.Similarity.dot(col("qv"), col("v")) /
      (col("qnrm") * col("nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val exact = anchors
      .select(col("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .crossJoin(broadcast(normed))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosX.as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy("query_id", "rank")
    assert(gotAll == rows(exact),
      "an all-cells probe must equal the exact ranking bit-for-bit")
    // the production operating point: 2 of 16 cells — recall on this
    // FIXED corpus is deterministic, pinned as a floor
    val got2 = rows(IvfIndex.topKFor(spark, "ivf_wide", anchors,
      k = 3, nProbe = 2)).map(r => (r._1, r._2)).toSet
    val exactSet = gotAll.map(r => (r._1, r._2)).toSet
    val recall = got2.intersect(exactSet).size.toDouble / exactSet.size
    assert(recall >= 0.30,
      f"recall@3 at 2/16 cells fell below the pinned floor: $recall%.2f")
  }

  test("fit-version guard: build records equal versions on the pair; a " +
      "torn pair (one side rewritten) fails probes and appends loudly") {
    IvfIndex.build(spark, sfDir, "ivf_guard", buckets = 4)
    val anchors = graft.queries.Similarity.normedVectors(spark, sfDir)
      .filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"))
      .localCheckpoint(true)
    // consistent pair: probe works
    assert(IvfIndex.topKFor(spark, "ivf_guard", anchors, k = 3).count() > 0)
    // tear the pair the way a half-completed refit would: the companion
    // carries a different fit version than the cells
    spark.sql("ALTER TABLE ivf_guard_cent SET TBLPROPERTIES (" +
      "'graft.ivf.fit' = 'deadbeefdeadbeefdeadbeefdeadbeef')")
    val probeErr = intercept[IllegalArgumentException] {
      IvfIndex.topKFor(spark, "ivf_guard", anchors, k = 3)
    }
    assert(probeErr.getMessage.contains("fit"),
      s"the torn-pair probe must name the fit mismatch: ${probeErr.getMessage}")
    val appendErr = intercept[IllegalArgumentException] {
      IvfIndex.appendVectors("ivf_guard",
        graft.Tables.embeddings(spark, sfDir).limit(1))
    }
    assert(appendErr.getMessage.contains("fit"))
    // and refit itself refuses to stack on a torn pair
    val refitErr = intercept[IllegalArgumentException] {
      IvfIndex.refit(spark, "ivf_guard", nCentroids = 4)
    }
    assert(refitErr.getMessage.contains("fit"))
  }

  test("refit reassigns the grown store against a new fit: probes equal a " +
      "fresh build at that fit, appends assign against the NEW centroids, " +
      "and user properties (the batch marker) survive the swap") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val d = java.nio.file.Files.createTempDirectory("ivfrefit").toString
    e.coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    // grown store at the 8-centroid fit; then refit to 16 — the dial a
    // deployment turns when cellStats shows the fit no longer spreads
    // the ingested distribution
    IvfIndex.build(spark, d, "ivf_refit", buckets = 16, nCentroids = 8)
    Bucketing.recordBatch(spark, "ivf_refit", 7L) // a live stream's marker
    val occBefore = IvfIndex.cellStats(spark, "ivf_refit").count()
    IvfIndex.refit(spark, "ivf_refit", nCentroids = 16)
    // the reference: a fresh 16-centroid build over the same corpus
    IvfIndex.build(spark, d, "ivf_refit_ref", buckets = 16, nCentroids = 16)
    assert(rows(IvfIndex.topK(spark, "ivf_refit", nAnchors = 20, k = 3)) ==
      rows(IvfIndex.topK(spark, "ivf_refit_ref", nAnchors = 20, k = 3)),
      "refit diverges from the fresh build at the same fit")
    // the fit actually widened (cellStats is the trigger metric)
    val occAfter = IvfIndex.cellStats(spark, "ivf_refit").count()
    assert(occAfter > occBefore,
      s"the 16-cell refit must occupy more cells: $occBefore -> $occAfter")
    // the marker survived the swap — a replay after refit still skips
    assert(Bucketing.lastCommittedBatch(spark, "ivf_refit") == 7L,
      "refit must carry the streaming loop's batch marker through")
    // the staged swap wrote bucket-aligned: probes still bucket-prune
    val anchors1 = graft.queries.Similarity.normedVectors(spark, sfDir)
      .filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"))
    val plan = IvfIndex.topKFor(spark, "ivf_refit", anchors1, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"pruning lost through the refit swap:\n${plan.take(800)}")
    // appends now assign against the NEW companion
    IvfIndex.appendVectors("ivf_refit",
      e.limit(5).select(col("vec_id") + 90000L, col("label"),
        col("embedding")).toDF("vec_id", "label", "embedding"))
    spark.catalog.refreshTable("ivf_refit")
    val cells = spark.table("ivf_refit")
      .filter(col("vec_id") >= 90000L).select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf((0L until 16L).toSet),
      s"post-refit append must cell against the new fit: $cells")
  }

  test("refit composes with the engine's own k-means (q57's kernel): the " +
      "trained fit drives the store, the all-cells probe still equals the " +
      "exact ranking (the any-fit invariant), and appends assign against it") {
    import org.apache.spark.sql.expressions.Window
    IvfIndex.build(spark, sfDir, "ivf_km", buckets = 16, nCentroids = 8)
    // the production fit: Lloyd over the corpus (frame-based — the shape
    // a deployment runs over the store's own accumulated rows)
    val fit = graft.queries.Clustering.kmeansFitOf(spark,
      graft.Tables.embeddings(spark, sfDir), iters = 3, k = 16)
      .localCheckpoint(true)
    val nCells = fit.count()
    assert(nCells > 8 && nCells <= 16,
      s"the trained 16-seed fit must survive with >8 cells, got $nCells")
    IvfIndex.refit(spark, "ivf_km", fit)
    // cells are exactly the fit's c_ids
    val cells = spark.table("ivf_km").select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    val cids = fit.select("c_id").collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf(cids),
      s"refit assigned outside the trained fit: ${cells -- cids}")
    // the any-fit invariant: probing EVERY cell is exact brute force,
    // whatever the fit — the recall-1.0 endpoint holds for a trained fit
    // exactly as it does for the deterministic one
    val normed = graft.queries.Similarity.normedVectors(spark, sfDir)
      .localCheckpoint(true)
    val anchors = normed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"))
      .localCheckpoint(true)
    val gotAll = rows(IvfIndex.topKFor(spark, "ivf_km", anchors,
      k = 3, nProbe = nCells.toInt))
    val cosX = graft.queries.Similarity.dot(col("qv"), col("v")) /
      (col("qnrm") * col("nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val exact = anchors
      .select(col("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .crossJoin(broadcast(normed))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosX.as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy("query_id", "rank")
    assert(gotAll == rows(exact),
      "all-cells probe over the k-means fit must equal the exact ranking")
    // appends assign against the trained companion
    IvfIndex.appendVectors("ivf_km",
      graft.Tables.embeddings(spark, sfDir).limit(3)
        .select((col("vec_id") + 95000L).as("vec_id"), col("label"),
          col("embedding")))
    spark.catalog.refreshTable("ivf_km")
    val newCells = spark.table("ivf_km")
      .filter(col("vec_id") >= 95000L).select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(newCells.subsetOf(cids),
      s"post-refit append must cell against the trained fit: $newCells")
  }

  test("appendVectors refuses a table with no centroid companion") {
    import spark.implicits._
    Bucketing.writeBucketed(
      Seq((0L, 1L, Seq(1.0), 1.0)).toDF("cell", "vec_id", "v", "nrm"),
      "ivf_uncent", "cell", 2)
    val err = intercept[IllegalArgumentException] {
      IvfIndex.appendVectors("ivf_uncent",
        graft.Tables.embeddings(spark, sfDir).limit(1))
    }
    assert(err.getMessage.contains("centroid companion"))
  }
}
