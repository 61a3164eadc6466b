package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Dedup

/** The persisted MinHash band store: row-exact parity with the
  * recompute-per-run near-dup decontam at the same corpus, the
  * bucket-pruning property that makes it an index, incremental append
  * equal to the rebuild, and the banding-identity guard (the
  * AnnIndexSpec pattern applied to the dedup family). */
class BandIndexSpec extends SparkSpec {

  private def docs = graft.Tables.documents(spark, sfDir)
  private def bench = docs.filter(Dedup.nearDupBenchPred)
  private def corpus = docs.filter(Dedup.nearDupCorpusPred)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("bench_id", "doc_id", "jaccard")
      .orderBy("bench_id", "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq

  test("nearDupsFor over the persisted store equals nearDupXPairsOn " +
      "exactly (same corpus split, bit-equal jaccards, nonempty)") {
    BandIndex.build(spark, sfDir, "bands_parity",
      corpusPred = Dedup.nearDupCorpusPred)
    val got = rows(BandIndex.nearDupsFor(spark, "bands_parity",
      corpusDocs = corpus, queryDocs = bench))
    val want = rows(Dedup.nearDupXPairsOn(spark, bench, corpus))
    assert(want.nonEmpty, "fixture corpus must contain cross-slice near-dups")
    assert(got == want,
      s"store probe diverges from recompute: got=${got.take(3)} want=${want.take(3)}")
  }

  test("past PruneSigLimit the probe routes to the un-pruned scan and " +
      "stays row-identical (the size-routing seam, both sides exercised)") {
    // (PruneSigLimit is now Bucketing.PruneLiteralLimit, the one pruning
    // limit every probe shares.) sf0.001's bench slice is 50 docs → 200
    // band rows → a PRUNED scan; a 100-doc query slice → 400 rows → the
    // store read WHOLE, its signature fan-out alone restricting the rows.
    // Compare both against the recompute on the same split.
    val wideBench = docs.filter(col("doc_id") % 5 === 2)
    val wideCorpus = docs.filter(col("doc_id") % 5 =!= 2)
    BandIndex.build(spark, sfDir, "bands_route", corpusPred = col("doc_id") % 5 =!= 2)
    assert(wideBench.count() * 4 > Bucketing.PruneLiteralLimit,
      "fixture must exceed the routing limit to exercise the full-scan side")
    val got = rows(BandIndex.nearDupsFor(spark, "bands_route",
      corpusDocs = wideCorpus, queryDocs = wideBench))
    val want = rows(Dedup.nearDupXPairsOn(spark, wideBench, wideCorpus))
    assert(want.nonEmpty, "fixture split must contain cross near-dups")
    assert(got == want, "full-scan route diverges from the recompute")
    // the exact boundary: 64 shingle-able query docs band PruneLiteralLimit
    // rows, 65 band 260
    val ids = Dedup.shinglesOf(wideBench, 3).orderBy("doc_id").select("doc_id")
      .limit(65).collect().map(_.getLong(0)).toSeq
    for (n <- Seq(64, 65)) {
      val q = wideBench.filter(col("doc_id").isin(ids.take(n): _*))
      assert(rows(BandIndex.nearDupsFor(spark, "bands_route",
          corpusDocs = wideCorpus, queryDocs = q)) ==
        rows(Dedup.nearDupXPairsOn(spark, q, wideCorpus)),
        s"$n query docs: the probe diverges from the recompute")
    }
    // past the limit in CANDIDATE docs: one query doc whose text 300
    // stored docs repeat verifies them all, the corpus read whole and
    // restricted by its candidate fan-out alone
    import spark.implicits._
    val text = wideBench.filter(col("doc_id") === ids.head).select("text")
      .head().getString(0)
    val copies = (1L to 300L).map(i => (8000000L + i, text)).toDF("doc_id", "text")
    BandIndex.buildDocs(spark, "bands_many", copies, buckets = 4)
    val one = Seq((9000000L, text)).toDF("doc_id", "text")
    val probe = BandIndex.nearDupsFor(spark, "bands_many",
      corpusDocs = copies, queryDocs = one)
    assert(!prunesByLiteral(probe), "300 candidate ids must not ship as an isin")
    val many = rows(probe)
    assert(many.size == 300 && many.size > Bucketing.PruneLiteralLimit)
    assert(many == rows(Dedup.nearDupXPairsOn(spark, one, copies)),
      "past the candidate limit the probe diverges from the recompute")
  }

  test("the candidate scan is bucket-pruned by the query side's band " +
      "signatures (the pruned route; nearDupsFor collects this frame)") {
    BandIndex.build(spark, sfDir, "bands_prune",
      corpusPred = Dedup.nearDupCorpusPred, buckets = 64)
    // ONE query doc → at most 4 band signatures → at most 4 buckets hit
    val shq = Dedup.shingleOn(spark, bench.limit(1)).localCheckpoint(true)
    val qbands = Dedup.bandRowsOf(Dedup.minhashSigsOf(spark, shq))
      .localCheckpoint(true)
    val cand = BandIndex.candidatesFor(spark, "bands_prune", qbands)
    val plan = cand.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in the candidate scan:\n$plan")
    val (selected, total) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
    assert(total == 64 && selected <= 4 && selected < total,
      s"expected ≤4 of 64 buckets for a one-doc query, got $selected out of $total")
  }

  test("incremental append: build on half the collection, append the " +
      "rest — table contents and probes equal the full build, still pruned") {
    val half = Dedup.nearDupCorpusPred && col("doc_id") % 2 === 0
    val rest = Dedup.nearDupCorpusPred && col("doc_id") % 2 =!= 0
    BandIndex.build(spark, sfDir, "bands_inc", corpusPred = half)
    BandIndex.append(spark, sfDir, "bands_inc", pred = rest)
    BandIndex.build(spark, sfDir, "bands_whole",
      corpusPred = Dedup.nearDupCorpusPred)
    val incRows = spark.table("bands_inc").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val wholeRows = spark.table("bands_whole").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(incRows == wholeRows,
      "appended band rows must equal the full build's row set")
    assert(rows(BandIndex.nearDupsFor(spark, "bands_inc", corpus, bench)) ==
      rows(BandIndex.nearDupsFor(spark, "bands_whole", corpus, bench)),
      "incrementally-built store diverges from the full build")
    val shq = Dedup.shingleOn(spark, bench.limit(1)).localCheckpoint(true)
    val qbands = Dedup.bandRowsOf(Dedup.minhashSigsOf(spark, shq))
      .localCheckpoint(true)
    val plan = BandIndex.candidatesFor(spark, "bands_inc", qbands)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"append broke bucket pruning:\n$plan")
  }

  test("nearDupPairs over the persisted store equals the full recompute " +
      "sweep exactly (q30's pairs, bit-equal jaccards, nonempty)") {
    BandIndex.build(spark, sfDir, "bands_pairs")
    val got = BandIndex.nearDupPairs(spark, "bands_pairs", docs)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = Dedup.minhashPairsOn(spark, docs)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(want.nonEmpty, "fixture corpus must contain near-dup pairs")
    assert(got == want,
      s"store sweep diverges from recompute: got=${got.take(3)} want=${want.take(3)}")
  }

  test("the pair sweep's distributed verify route (large pair sets) " +
      "equals the collect route row-for-row") {
    BandIndex.build(spark, sfDir, "bands_pairs_dist")
    def sweep(limit: Int) =
      BandIndex.nearDupPairsRouted(spark, "bands_pairs_dist", docs, limit)
        .orderBy("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val collectRoute = sweep(Int.MaxValue)
    val distributedRoute = sweep(0)
    assert(collectRoute.nonEmpty)
    assert(distributedRoute == collectRoute,
      "the two verify routes must be row-identical")
  }

  test("the pair sweep's candidate self-join is shuffle-free (both " +
      "sides the same sig-bucketed layout — the co-location pin)") {
    BandIndex.build(spark, sfDir, "bands_coloc", buckets = 16)
    // at test scale Catalyst rightly broadcasts the tiny side; the
    // co-location claim is about the at-scale shape, where neither side
    // broadcasts — force the sort-merge plan to pin it, under the
    // relaxed co-partition rule nearDupPairs scopes around the
    // candidate execution (subset-key co-partitioning: the bucket key
    // sig is a subset of the join keys (band, sig))
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val coPart = spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      val plan = BandIndex.pairCandidates(spark, "bands_coloc")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"expected the at-scale sort-merge shape:\n$plan")
      assert(!plan.contains("Exchange"),
        s"the bucketed self-join must plan with zero shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", coPart)
    }
  }

  test("appendDocs fails loudly on a table not built by BandIndex (the " +
      "banding-identity guard)") {
    import spark.implicits._
    Bucketing.writeBucketed(
      Seq(("s", 0, 1L)).toDF("sig", "band", "doc_id"),
      "bands_unbuilt", "sig", 2)
    val e = intercept[IllegalStateException] {
      BandIndex.appendDocs("bands_unbuilt", docs.limit(1))
    }
    assert(e.getMessage.contains("graft.minhash"))
  }

  test("appendDocs bands at the RECORDED banding (the reband-aware " +
      "contract) — a corrupt recorded banding fails loudly, and " +
      "pre-banded rows at the wrong banding are refused") {
    BandIndex.build(spark, sfDir, "bands_mismatch",
      corpusPred = col("doc_id") < 50)
    // a recorded banding whose hashes don't divide into its bands is
    // catalog corruption, never a silent reinterpretation
    spark.sql("ALTER TABLE bands_mismatch SET TBLPROPERTIES (" +
      "'graft.minhash.hashes' = '6')")
    val e = intercept[IllegalArgumentException] {
      BandIndex.appendDocs("bands_mismatch", docs.filter(col("doc_id") >= 50))
    }
    assert(e.getMessage.contains("banding"))
    // the streaming sink's pre-banded form still refuses a banding drift
    spark.sql("ALTER TABLE bands_mismatch SET TBLPROPERTIES (" +
      "'graft.minhash.hashes' = '12')")
    val rows = graft.queries.Dedup.bandRowsOn(spark,
      docs.filter(col("doc_id") >= 50).select("doc_id", "text"), (3, 8, 4))
    val e2 = intercept[IllegalArgumentException] {
      BandIndex.appendBandRowsAt("bands_mismatch", rows, (3, 8, 4))
    }
    assert(e2.getMessage.contains("never collide"))
  }

  test("ensureFor folds the corpus predicate and bucket count into the " +
      "table identity (the PostingsIndex memo rule)") {
    val t1 = BandIndex.ensureFor(spark, sfDir, tag = "memokey",
      corpusPred = col("doc_id") % 2 === 0, buckets = 8)
    val t2 = BandIndex.ensureFor(spark, sfDir, tag = "memokey",
      corpusPred = col("doc_id") % 2 === 1, buckets = 8)
    val t3 = BandIndex.ensureFor(spark, sfDir, tag = "memokey",
      corpusPred = col("doc_id") % 2 === 0, buckets = 16)
    assert(t1 != t2 && t1 != t3 && t2 != t3,
      "predicate/layout changes must not be served the memoized table")
    assert(BandIndex.ensureFor(spark, sfDir, tag = "memokey",
      corpusPred = col("doc_id") % 2 === 0, buckets = 8) == t1,
      "same predicate and layout must hit the memo")
  }

  test("reband == fresh build at the new banding, bit-for-bit; the " +
      "recorded banding swaps atomically with the rows and probes " +
      "follow the catalog's truth") {
    BandIndex.build(spark, sfDir, "bands_reband",
      corpusPred = Dedup.nearDupCorpusPred, buckets = 8)
    // widen the banding (adaptiveBanding's transition direction): docs
    // below the NEW shingle width drop out, exactly as a fresh build
    // at that banding would drop them
    BandIndex.reband(spark, "bands_reband", docs,
      shingle = 4, hashes = 16, bands = 8)
    assert(BandIndex.recordedBanding(spark, "bands_reband") == ((4, 16, 8)))
    // the fresh-build twin at the new banding (constructed through the
    // same one-definition row pipeline the store uses)
    Bucketing.writeBucketed(
      Dedup.bandRowsOn(spark,
        docs.filter(Dedup.nearDupCorpusPred).select("doc_id", "text"),
        (4, 16, 8)).select("sig", "band", "doc_id"),
      "bands_reband_twin", "sig", 8)
    def contents(t: String) = spark.table(t)
      .orderBy("doc_id", "band", "sig").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(contents("bands_reband") == contents("bands_reband_twin"),
      "rebanded rows diverge from a fresh banding pass")
    // probes band the query side at the RECORDED banding and verify at
    // the recorded shingle width — same candidates, same jaccard rule
    val got = rows(BandIndex.nearDupsFor(spark, "bands_reband",
      corpus, bench))
    val want = {
      val shq = Dedup.shingleOn(spark, bench, 4).localCheckpoint(true)
      val qb = Dedup.bandRowsOf(Dedup.minhashSigsOf(spark, shq, 16), 8, 2)
      val cand = spark.table("bands_reband_twin").as("y")
        .join(qb.as("x"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
        .select(col("x.doc_id").as("bench_id"), col("y.doc_id").as("doc_id"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      import spark.implicits._
      val candDf = cand.toDF("bench_id", "doc_id")
      val candDocs = corpus.join(candDf.select("doc_id").distinct(),
        Seq("doc_id"), "left_semi")
      Dedup.crossVerify(candDf, shq, Dedup.shingleOn(spark, candDocs, 4))
        .orderBy("bench_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    assert(got == want,
      "post-reband probe diverges from the recompute at the new banding")
    // appends after the reband sign at the recorded banding (no throw,
    // rows land at 16 hashes / 8 bands)
    BandIndex.appendDocs("bands_reband",
      docs.filter(Dedup.nearDupBenchPred).limit(5))
  }

  test("Bucketing.compact on the band store: probes row-identical, " +
      "banding properties carried through") {
    BandIndex.build(spark, sfDir, "bands_compact",
      corpusPred = Dedup.nearDupCorpusPred, buckets = 8)
    val before = rows(BandIndex.nearDupsFor(spark, "bands_compact",
      corpus, bench))
    Bucketing.compact(spark, "bands_compact")
    assert(rows(BandIndex.nearDupsFor(spark, "bands_compact",
      corpus, bench)) == before,
      "compaction changed probe output")
    // the banding guard still holds: properties survived the staged swap
    BandIndex.appendDocs("bands_compact",
      spark.createDataFrame(
        Seq((900001L, "alpha beta gamma delta epsilon zeta"))
      ).toDF("doc_id", "text"))
  }
}
