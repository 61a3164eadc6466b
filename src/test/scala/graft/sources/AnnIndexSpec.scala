package graft.sources

import graft.{SparkEntry, SparkSpec}

/** The persisted ANN index: parity with the recompute-per-run LSH path
  * (q35) at the same banding, and the property that makes it an index —
  * bucket pruning visible in the probe scan. */
class AnnIndexSpec extends SparkSpec {

  test("topK over the persisted index equals q35's lshTopK exactly") {
    AnnIndex.build(spark, sfDir, "ann_idx_parity", tables = 4, bits = 8,
      buckets = 16)
    val got = AnnIndex.topK(spark, "ann_idx_parity", nAnchors = 20, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val want = SparkEntry.queries("q35_ann_lsh")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq == want.toSeq,
      s"index probe diverges from lshTopK: got=${got.take(5).toSeq} want=${want.take(5).toSeq}")
    // the old route boundary: 64 anchors sign PruneLiteralLimit rows, 65
    // sign 260 (the next whole-query size) — both equal lshTopK over the
    // same anchors, for the plain and the cross-label probe; the scan
    // prunes while the distinct signatures fit the limit, and no query
    // row is broadcast
    import org.apache.spark.sql.functions.col
    import graft.queries.Similarity
    for (n <- Seq(64, 65)) {
      val anchors = Similarity.signatureRowsOf(
        Similarity.normedVectors(spark, sfDir).filter(col("vec_id") < n), 4, 8)
      assert((anchors.count() <= Bucketing.PruneLiteralLimit) == (n == 64))
      val pruned = anchors.select("sig").distinct().count() <=
        Bucketing.PruneLiteralLimit
      val probe = AnnIndex.topKFor(spark, "ann_idx_parity", anchors, 5)
      val plan = probe.queryExecution.executedPlan.toString
      assert(prunesByLiteral(probe) == pruned &&
        !plan.contains("BroadcastExchange"), s"$n anchors:\n$plan")
      assert(probe.collect().toSeq == Similarity.lshTopK(spark, sfDir, 5,
        crossLabelOnly = false, nAnchors = n).collect().toSeq,
        s"$n anchors: the probe diverges from lshTopK")
      assert(AnnIndex.hardNegativesFor(spark, "ann_idx_parity", anchors, 3)
        .collect().toSeq == Similarity.lshTopK(spark, sfDir, 3,
          crossLabelOnly = true, nAnchors = n).collect().toSeq,
        s"$n anchors: hardNegativesFor diverges from lshTopK")
    }
  }

  test("incremental append: build on half the corpus, append the rest — " +
      "probes equal the full build, still pruned") {
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, sfDir)
    val d = java.nio.file.Files.createTempDirectory("annappend").toString
    e.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$d/half_a/embeddings.parquet")
    e.filter(col("vec_id") % 2 =!= 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$d/half_b/embeddings.parquet")
    AnnIndex.build(spark, s"$d/half_a", "ann_idx_inc", tables = 4, bits = 8,
      buckets = 16)
    AnnIndex.append(spark, s"$d/half_b", "ann_idx_inc", tables = 4, bits = 8)
    AnnIndex.build(spark, sfDir, "ann_idx_whole", tables = 4, bits = 8,
      buckets = 16)
    def rows(t: String) = AnnIndex.topK(spark, t, nAnchors = 20, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(rows("ann_idx_inc") == rows("ann_idx_whole"),
      "incrementally-built index diverges from the full build")
    // appended files still participate in pruning (bucketed on insert)
    val plan = AnnIndex.topK(spark, "ann_idx_inc", nAnchors = 2, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"append broke bucket pruning:\n$plan")
  }

  test("a small probe set prunes buckets: the scan reads a strict subset") {
    AnnIndex.build(spark, sfDir, "ann_idx_prune", tables = 4, bits = 8,
      buckets = 64)
    val probe = AnnIndex.topK(spark, "ann_idx_prune", nAnchors = 2, k = 5)
    val plan = probe.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in the probe scan:\n$plan")
    val (selected, total) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
    assert(total == 64 && selected < total,
      s"expected a pruned scan, got $selected out of $total")
    // and the pruned probe still returns ranked neighbors
    assert(probe.collect().nonEmpty)
  }

  test("ensureFor folds the banding into the table identity: a different " +
      "(tables, bits) builds its own index instead of serving the memo hit") {
    val t1 = AnnIndex.ensureFor(spark, sfDir, tag = "memokey",
      tables = 4, bits = 8)
    val t2 = AnnIndex.ensureFor(spark, sfDir, tag = "memokey",
      tables = 2, bits = 4)
    assert(t1 != t2, "banding change must not be served the memoized table")
    // each table records ITS OWN banding (so append's require sees the truth)
    def prop(t: String, k: String) =
      spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap.apply(k)
    assert(prop(t1, "graft.lsh.tables") == "4" && prop(t2, "graft.lsh.tables") == "2")
  }

  test("topKFor with externally-computed anchor signatures (the " +
      "vector-DB-client model) equals the self-probe — the query never " +
      "reads the index to fetch its own anchors") {
    import org.apache.spark.sql.functions.col
    AnnIndex.build(spark, sfDir, "ann_idx_client", tables = 4, bits = 8,
      buckets = 16)
    // the client signs its OWN query vectors — same banding, computed
    // from the corpus dir, never from the index table
    val anchors = graft.queries.Similarity.signatureRowsOf(
      graft.queries.Similarity.normedVectors(spark, sfDir)
        .filter(col("vec_id") < 20),
      tables = 4, bits = 8)
    def tup(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(tup(AnnIndex.topKFor(spark, "ann_idx_client", anchors, 5)) ==
      tup(AnnIndex.topK(spark, "ann_idx_client", nAnchors = 20, k = 5)),
      "client-computed anchor signatures diverge from the self-probe")
  }

  test("a reband landing between the client's banding read and its probe " +
      "fails LOUD (signedAt recheck), never a silently-empty result") {
    import org.apache.spark.sql.functions.col
    AnnIndex.build(spark, sfDir, "ann_idx_race", tables = 4, bits = 8,
      buckets = 16)
    // the client reads the banding and signs its anchors at it...
    val signedAt = AnnIndex.recordedBanding(spark, "ann_idx_race")
    val anchors = graft.queries.Similarity.signatureRowsOf(
      graft.queries.Similarity.normedVectors(spark, sfDir)
        .filter(col("vec_id") < 8),
      signedAt._1, signedAt._2)
    // ...and a maintenance reband lands before the probe runs
    AnnIndex.reband(spark, "ann_idx_race", tables = 2, bits = 4)
    val e = intercept[IllegalStateException] {
      AnnIndex.topKFor(spark, "ann_idx_race", anchors, 5,
        signedAt = Some(signedAt)).collect()
    }
    assert(e.getMessage.contains("rebanded mid-probe"), e.getMessage)
    // the retry contract: re-reading the banding and re-signing serves
    val again = AnnIndex.recordedBanding(spark, "ann_idx_race")
    val fresh = graft.queries.Similarity.signatureRowsOf(
      graft.queries.Similarity.normedVectors(spark, sfDir)
        .filter(col("vec_id") < 8),
      again._1, again._2)
    assert(AnnIndex.topKFor(spark, "ann_idx_race", fresh, 5,
      signedAt = Some(again)).collect().nonEmpty)
  }

  test("reband rewrites the store at a new banding without re-reading the " +
      "corpus: equals the fresh build bit-for-bit, the recorded banding " +
      "and the append guard flip atomically, user properties survive") {
    import org.apache.spark.sql.functions.col
    // half the corpus built here; the other half appended through a
    // second session after this one has read (and cached) the listing
    val e0 = graft.Tables.embeddings(spark, sfDir)
    val d = java.nio.file.Files.createTempDirectory("annreband").toString
    e0.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    AnnIndex.build(spark, d, "ann_reband", tables = 2, bits = 4,
      buckets = 8)
    Bucketing.recordBatch(spark, "ann_reband", 5L) // a live stream's marker
    spark.table("ann_reband").count()
    AnnIndex.appendVectors("ann_reband",
      graft.Tables.embeddings(spark.newSession(), sfDir)
        .filter(col("vec_id") % 2 =!= 0), tables = 2, bits = 4)
    // the transition adaptiveBanding prescribes as the corpus grows
    AnnIndex.reband(spark, "ann_reband", tables = 4, bits = 8)
    assert(AnnIndex.recordedBanding(spark, "ann_reband") == ((4, 8)),
      "reband must re-record the banding with the rows")
    AnnIndex.build(spark, sfDir, "ann_reband_ref", tables = 4, bits = 8,
      buckets = 8)
    def rowsOf(t: String) = {
      spark.catalog.refreshTable(t)
      spark.table(t).select("vec_id", "tbl", "sig").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    }
    assert(rowsOf("ann_reband") == rowsOf("ann_reband_ref"),
      "rebanded store diverges from the fresh build at the new banding")
    assert(Bucketing.lastCommittedBatch(spark, "ann_reband") == 5L,
      "reband must carry the streaming loop's batch marker through")
    // the guard flipped with the rows: the old banding now fails, the
    // new one appends — and a client reads the banding from the catalog
    val e = graft.Tables.embeddings(spark, sfDir)
    val err = intercept[IllegalArgumentException] {
      AnnIndex.appendVectors("ann_reband",
        e.limit(1).select((col("vec_id") + 70000L).as("vec_id"),
          col("label"), col("embedding")), tables = 2, bits = 4)
    }
    assert(err.getMessage.contains("banding"))
    AnnIndex.appendVectors("ann_reband",
      e.limit(1).select((col("vec_id") + 70000L).as("vec_id"),
        col("label"), col("embedding")), tables = 4, bits = 8)
    // probes serve the new banding: parity with the recompute path's q35
    // shape is already pinned above; here the store answers at all and
    // prunes on the new signatures
    val got = AnnIndex.topK(spark, "ann_reband", nAnchors = 5, k = 3)
    assert(got.count() > 0)
  }

  test("hardNegativesFor: the store-served cross-label probe (q147) " +
      "equals q125's adaptive recompute bit-for-bit — label filter at " +
      "the bucket probe, both labels carried out") {
    import org.apache.spark.sql.functions.col
    def rows(name: String) = graft.SparkEntry.queries(name)(spark, sfDir)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label",
        "cosine", "rank")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getInt(5)))
      .toSeq
    val served = rows("q147_hard_negatives_index_probe")
    assert(served.nonEmpty, "the served probe must mine some negatives")
    assert(served == rows("q125_hard_negatives_lsh"),
      "store-served hard negatives diverge from the recompute spelling")
    served.foreach { r =>
      assert(r._2 != r._4, s"same-label pair leaked through the probe: $r")
    }
  }
}
