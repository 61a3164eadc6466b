package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The retroactive-removal verb on all four index families: DELETE must
  * leave every probe row-identical to a store REBUILT over the survivors
  * — the one equivalence that makes "purge the sweep's condemned docs"
  * trustworthy without a rebuild. Plus the arithmetic the postings
  * family's delete rests on: negative df deltas summing exactly, the
  * recovery path (refreshStats) and the maintenance path (compact)
  * agreeing with the fold, and idempotence on re-fed condemned sets. */
class DeleteSpec extends SparkSpec {

  // ---- PostingsIndex ------------------------------------------------

  private def queryDocs(nAnchors: Int) =
    graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < nAnchors)
      .select(col("doc_id").as("query_id"), col("text"))

  private def probeRows(table: String) =
    PostingsIndex.topKFor(spark, table, queryDocs(8), k = 10)
      .select("query_id", "doc_id", "n_terms", "score", "rank")
      .orderBy("query_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
      .toSeq

  /** Companion totals with zero-sum terms dropped — a rebuild over the
    * survivors has no row for a term every holder of which was deleted,
    * while the delta store folds it to an exact 0. */
  private def dfTotals(table: String): Map[String, Long] =
    spark.table(PostingsIndex.dfTableOf(table))
      .groupBy("term").agg(sum(col("df")).as("df"))
      .filter(col("df") =!= 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private val condemnedDocPred = col("doc_id") % 7 === 3 && col("doc_id") >= 8

  private def condemnedDocIds =
    graft.Tables.documents(spark, sfDir)
      .filter(condemnedDocPred).select("doc_id")

  test("PostingsIndex.delete == rebuild over survivors: stats, df totals, " +
      "and probe rows all identical (negative deltas fold exactly)") {
    PostingsIndex.build(spark, sfDir, "post_del")
    PostingsIndex.delete(spark, "post_del", condemnedDocIds)
    PostingsIndex.build(spark, sfDir, "post_del_twin",
      corpusPred = !condemnedDocPred)
    assert(PostingsIndex.stats(spark, "post_del") ==
      PostingsIndex.stats(spark, "post_del_twin"),
      "deleted stats must fold down to the survivor build's")
    assert(dfTotals("post_del") == dfTotals("post_del_twin"),
      "negative df deltas must sum to the survivor build's df")
    assert(probeRows("post_del") == probeRows("post_del_twin"),
      "post-delete probe diverges from the survivor rebuild")
    // no condemned doc is ever served
    val served = spark.table("post_del").select("doc_id").distinct()
      .join(condemnedDocIds, Seq("doc_id"), "left_semi").count()
    assert(served == 0L, "purged docs still present in the postings")
    // the swap preserves the COLUMN ORDER positional appends rely on
    // (the SoakProbe finding: a USING join fronts the key, and the next
    // streamed append dies — or silently corrupts — on insertInto)
    assert(spark.table("post_del").columns.toSeq ==
      spark.table("post_del_twin").columns.toSeq,
      "delete reordered the table's columns")
    import spark.implicits._
    PostingsIndex.appendDocs("post_del",
      Seq((777777L, "alpha beta gamma")).toDF("doc_id", "text"))
    val appended = spark.table("post_del")
      .filter(col("doc_id") === 777777L)
      .select("term").collect().map(_.getString(0)).toSet
    assert(appended == Set("alpha", "beta", "gamma"),
      s"append-after-delete landed misaligned rows: $appended")
  }

  test("PostingsIndex.delete is idempotent: re-feeding the condemned set " +
      "(plus never-indexed ids) changes nothing — no double stats decrement") {
    PostingsIndex.build(spark, sfDir, "post_del_idem")
    PostingsIndex.delete(spark, "post_del_idem", condemnedDocIds)
    val stats1 = PostingsIndex.stats(spark, "post_del_idem")
    val rows1 = probeRows("post_del_idem")
    import spark.implicits._
    val refed = condemnedDocIds
      .union(Seq(999999L, 888888L).toDF("doc_id")) // never indexed
    PostingsIndex.delete(spark, "post_del_idem", refed)
    assert(PostingsIndex.stats(spark, "post_del_idem") == stats1,
      "re-fed delete must not decrement stats again")
    assert(probeRows("post_del_idem") == rows1)
  }

  test("the negative-df guard: refreshStats and compact after a delete " +
      "both agree with the delta fold (recovery and maintenance paths)") {
    PostingsIndex.build(spark, sfDir, "post_del_rec")
    PostingsIndex.delete(spark, "post_del_rec", condemnedDocIds)
    val wantStats = PostingsIndex.stats(spark, "post_del_rec")
    val wantDf = dfTotals("post_del_rec")
    val wantRows = probeRows("post_del_rec")
    PostingsIndex.refreshStats(spark, "post_del_rec")
    assert(PostingsIndex.stats(spark, "post_del_rec") == wantStats,
      "refreshStats diverges from the negative-delta fold")
    assert(dfTotals("post_del_rec") == wantDf)
    assert(probeRows("post_del_rec") == wantRows)
    PostingsIndex.compact(spark, "post_del_rec")
    assert(probeRows("post_del_rec") == wantRows,
      "compact after delete changed probe results")
    // the merge dropped zero-sum terms: no zero rows remain
    assert(spark.table(PostingsIndex.dfTableOf("post_del_rec"))
      .filter(col("df") === 0L).count() == 0L,
      "compact must drop terms whose deltas folded to zero")
  }

  // ---- AnnIndex / IvfIndex (survivor twin built from a filtered dir) --

  private val condemnedVecPred = col("vec_id") % 5 === 2 && col("vec_id") >= 20

  private def condemnedVecIds =
    graft.Tables.embeddings(spark, sfDir)
      .filter(condemnedVecPred).select("vec_id")

  /** Write the survivor slice of the embeddings table to a temp corpus
    * dir (the AnnIndexSpec append-test trick) so the twin builds over
    * exactly the post-delete population. Condemned ids stay ≥ 20 so the
    * anchor set and the IVF fit (first 8 vectors) are unchanged. */
  private def survivorDir(sub: String): String = {
    val d = java.nio.file.Files.createTempDirectory(sub).toString
    graft.Tables.embeddings(spark, sfDir).filter(!condemnedVecPred)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/embeddings.parquet")
    d
  }

  test("AnnIndex.delete == rebuild over survivors, banding carried, " +
      "idempotent on a re-fed set") {
    AnnIndex.build(spark, sfDir, "ann_del", tables = 4, bits = 8,
      buckets = 16)
    AnnIndex.delete(spark, "ann_del", condemnedVecIds)
    AnnIndex.build(spark, survivorDir("anndel"), "ann_del_twin",
      tables = 4, bits = 8, buckets = 16)
    def rows(t: String) = AnnIndex.topK(spark, t, nAnchors = 20, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(rows("ann_del") == rows("ann_del_twin"),
      "post-delete ANN probe diverges from the survivor rebuild")
    assert(AnnIndex.recordedBanding(spark, "ann_del") == ((4, 8)),
      "delete must carry the recorded banding through the swap")
    val r1 = rows("ann_del")
    AnnIndex.delete(spark, "ann_del", condemnedVecIds)
    assert(rows("ann_del") == r1, "re-fed ANN delete changed the store")
    // column order preserved for the positional append path
    assert(spark.table("ann_del").columns.toSeq ==
      spark.table("ann_del_twin").columns.toSeq,
      "delete reordered the signature table's columns")
    AnnIndex.appendVectors("ann_del",
      graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") === 22L))
  }

  test("IvfIndex.delete == rebuild over survivors (float store), fit " +
      "properties carried — and the companion is untouched") {
    IvfIndex.build(spark, sfDir, "ivf_del")
    val centBefore = spark.table(IvfIndex.centTableOf("ivf_del"))
      .orderBy("c_id").collect().toSeq
    IvfIndex.delete(spark, "ivf_del", condemnedVecIds)
    IvfIndex.build(spark, survivorDir("ivfdel"), "ivf_del_twin")
    def rows(t: String) = IvfIndex.topK(spark, t, nAnchors = 20, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(rows("ivf_del") == rows("ivf_del_twin"),
      "post-delete IVF probe diverges from the survivor rebuild")
    assert(spark.table(IvfIndex.centTableOf("ivf_del"))
      .orderBy("c_id").collect().toSeq == centBefore,
      "delete must not touch the centroid companion")
    // the fit guard still passes AND the append lands in the RIGHT
    // columns (cell and vec_id are both longs — a reordered swap would
    // corrupt SILENTLY here, the SoakProbe finding's worst case: the
    // cell value would land in vec_id and vice versa, no cast error).
    // vec 22 was condemned above, so this re-append is a fresh row; a
    // swapped layout would store (vec_id < 8, cell = 22) instead.
    IvfIndex.appendVectors("ivf_del",
      graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") === 22L))
    val back = spark.table("ivf_del").filter(col("vec_id") === 22L)
      .select("cell").collect().map(_.getLong(0)).toSeq
    assert(back.length == 1 && back.head >= 0L && back.head < 8L,
      s"append-after-delete landed misaligned IVF columns: $back")
  }

  test("IvfIndex.delete works unchanged on the SQ store (payload-blind " +
      "anti-join) — probe equals an SQ rebuild over survivors") {
    IvfIndex.buildSq(spark, sfDir, "ivfsq_del")
    IvfIndex.delete(spark, "ivfsq_del", condemnedVecIds)
    IvfIndex.buildSq(spark, survivorDir("ivfsqdel"), "ivfsq_del_twin")
    def anchors = graft.queries.Similarity.normedVectors(spark, sfDir)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"))
    def rows(t: String) = IvfIndex.topKForSq(spark, t, anchors, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(rows("ivfsq_del") == rows("ivfsq_del_twin"),
      "post-delete SQ probe diverges from the survivor rebuild")
  }

  // ---- BandIndex -----------------------------------------------------

  test("BandIndex.delete == rebuild over survivors: the decontam probe " +
      "sees only surviving docs") {
    import graft.queries.Dedup
    val docs = graft.Tables.documents(spark, sfDir)
    val condemned = col("doc_id") % 10 === 3
    BandIndex.build(spark, sfDir, "band_del",
      corpusPred = Dedup.nearDupCorpusPred)
    BandIndex.delete(spark, "band_del",
      docs.filter(condemned).select("doc_id"))
    BandIndex.build(spark, sfDir, "band_del_twin",
      corpusPred = Dedup.nearDupCorpusPred && !condemned)
    val bench = docs.filter(Dedup.nearDupBenchPred)
    val corpus = docs.filter(Dedup.nearDupCorpusPred && !condemned)
    def rows(t: String) =
      BandIndex.nearDupsFor(spark, t, corpus, bench)
        .orderBy("bench_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows("band_del") == rows("band_del_twin"),
      "post-delete band probe diverges from the survivor rebuild")
    // the positional append path still lands after the swap (a fronted
    // doc_id would die on a STRING→BIGINT cast — the SoakProbe finding)
    assert(spark.table("band_del").columns.toSeq ==
      Seq("sig", "band", "doc_id"),
      "delete reordered the band table's columns")
    BandIndex.appendDocs("band_del", docs.filter(col("doc_id") === 7L))
  }

  // ---- Deferred (tombstone) deletes ----------------------------------

  test("PostingsIndex.deleteDeferred == eager delete == rebuild over " +
      "survivors on every probe surface — at O(condemned) cost, no rewrite") {
    PostingsIndex.build(spark, sfDir, "post_tomb")
    val filesBefore = Bucketing.dataFileCount(spark, "post_tomb")
    PostingsIndex.deleteDeferred(spark, "post_tomb", condemnedDocIds)
    // O(condemned): the store itself was NOT rewritten (same data files)
    assert(Bucketing.dataFileCount(spark, "post_tomb") == filesBefore,
      "deferred delete must not rewrite the store")
    assert(Bucketing.pendingTombstones(spark, "post_tomb").isDefined,
      "deferred delete must land the tombstone side-table")
    PostingsIndex.build(spark, sfDir, "post_tomb_twin",
      corpusPred = !condemnedDocPred)
    assert(PostingsIndex.stats(spark, "post_tomb") ==
      PostingsIndex.stats(spark, "post_tomb_twin"),
      "deferred delete must fold stats down like the eager verb")
    assert(dfTotals("post_tomb") == dfTotals("post_tomb_twin"),
      "deferred delete must append the same negative df deltas")
    assert(probeRows("post_tomb") == probeRows("post_tomb_twin"),
      "deferred-delete probe diverges from the survivor rebuild")
    // idempotent: a re-fed condemned set folds nothing twice
    val s1 = PostingsIndex.stats(spark, "post_tomb")
    PostingsIndex.deleteDeferred(spark, "post_tomb", condemnedDocIds)
    assert(PostingsIndex.stats(spark, "post_tomb") == s1,
      "re-fed deferred delete must not decrement stats again")
    assert(probeRows("post_tomb") == probeRows("post_tomb_twin"))
    // recovery path agrees with what probes serve (live rows only)
    PostingsIndex.refreshStats(spark, "post_tomb")
    assert(PostingsIndex.stats(spark, "post_tomb") ==
      PostingsIndex.stats(spark, "post_tomb_twin"),
      "refreshStats must not restate tombstoned docs")
    assert(probeRows("post_tomb") == probeRows("post_tomb_twin"))
    // the physical fold rides the maintenance cadence: compact purges
    // the tombstoned rows and drops the side-table, probes unchanged
    PostingsIndex.compact(spark, "post_tomb")
    assert(Bucketing.pendingTombstones(spark, "post_tomb").isEmpty,
      "compact must fold the tombstones and drop the side-table")
    assert(spark.table("post_tomb").select("doc_id").distinct()
      .join(condemnedDocIds, Seq("doc_id"), "left_semi").count() == 0L,
      "compact must physically purge the tombstoned rows")
    assert(probeRows("post_tomb") == probeRows("post_tomb_twin"),
      "the physical fold changed probe results")
  }

  test("mixed verbs compose: an eager delete re-feeding an overlapping " +
      "condemned set after a deferred delete folds nothing twice and " +
      "clears the tombstones with its rewrite") {
    PostingsIndex.build(spark, sfDir, "post_mixed")
    PostingsIndex.deleteDeferred(spark, "post_mixed", condemnedDocIds)
    // eager re-feed of the SAME set plus more: only the new ids fold
    import spark.implicits._
    val wider = condemnedDocIds.union(Seq(11L).toDF("doc_id"))
    PostingsIndex.delete(spark, "post_mixed", wider)
    PostingsIndex.build(spark, sfDir, "post_mixed_twin",
      corpusPred = !condemnedDocPred && col("doc_id") =!= 11L)
    assert(PostingsIndex.stats(spark, "post_mixed") ==
      PostingsIndex.stats(spark, "post_mixed_twin"),
      "the overlapping eager re-feed double-folded the stats")
    assert(probeRows("post_mixed") == probeRows("post_mixed_twin"))
    assert(Bucketing.pendingTombstones(spark, "post_mixed").isEmpty,
      "the eager rewrite must fold and clear the pending tombstones")
    assert(spark.table("post_mixed").select("doc_id").distinct()
      .join(condemnedDocIds, Seq("doc_id"), "left_semi").count() == 0L,
      "the eager rewrite must physically purge the tombstoned rows too")
  }

  test("the q148 lifecycle through the DEFERRED path serves the same rows " +
      "as the eager path (the registered row's hash is verb-independent)") {
    val bench = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 100 === 7 && col("doc_id") < 5000)
      .select(col("doc_id").as("query_id"), col("text"))
    val pred = col("doc_id") % 100 =!= 7 || col("doc_id") >= 5000
    def lifecycle(table: String,
        del: (String, org.apache.spark.sql.DataFrame) => Unit) = {
      PostingsIndex.build(spark, sfDir, table, corpusPred = pred)
      val condemned = PostingsIndex.topKFor(spark, table, bench, k = 1)
        .select("doc_id").distinct().localCheckpoint(true)
      del(table, condemned)
      PostingsIndex.topKFor(spark, table, bench, k = 5)
        .select("query_id", "doc_id", "n_terms", "score", "rank")
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getInt(4))).toSeq
    }
    val eager = lifecycle("post_q148_eager",
      (t, ids) => PostingsIndex.delete(spark, t, ids))
    val deferred = lifecycle("post_q148_def",
      (t, ids) => PostingsIndex.deleteDeferred(spark, t, ids))
    assert(eager.nonEmpty && eager == deferred,
      "q148's post-purge probe differs between the delete verbs")
  }

  test("BandIndex.deleteDeferred: probes and the full sweep subtract the " +
      "tombstones — equal to the eager verb; reband folds them") {
    import graft.queries.Dedup
    val docs = graft.Tables.documents(spark, sfDir)
    val condemned = col("doc_id") % 10 === 3
    BandIndex.build(spark, sfDir, "band_tomb",
      corpusPred = Dedup.nearDupCorpusPred)
    val filesBefore = Bucketing.dataFileCount(spark, "band_tomb")
    BandIndex.deleteDeferred(spark, "band_tomb",
      docs.filter(condemned).select("doc_id"))
    assert(Bucketing.dataFileCount(spark, "band_tomb") == filesBefore,
      "deferred delete must not rewrite the band store")
    BandIndex.build(spark, sfDir, "band_tomb_twin",
      corpusPred = Dedup.nearDupCorpusPred && !condemned)
    val bench = docs.filter(Dedup.nearDupBenchPred)
    val corpus = docs.filter(Dedup.nearDupCorpusPred && !condemned)
    def rows(t: String) =
      BandIndex.nearDupsFor(spark, t, corpus, bench)
        .orderBy("bench_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows("band_tomb") == rows("band_tomb_twin"),
      "deferred-delete band probe diverges from the survivor rebuild")
    def sweep(t: String) =
      BandIndex.nearDupPairs(spark, t, corpus)
        .orderBy("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(sweep("band_tomb") == sweep("band_tomb_twin"),
      "the full sweep must subtract tombstones on both self-join legs")
    // re-feed: nothing new tombstones (idempotent)
    BandIndex.deleteDeferred(spark, "band_tomb",
      docs.filter(condemned).select("doc_id"))
    assert(rows("band_tomb") == rows("band_tomb_twin"))
    // reband is a full rewrite: it folds the tombstones (membership is
    // the LIVE set) and drops the side-table
    BandIndex.reband(spark, "band_tomb", corpus, 3, 8, 4)
    assert(Bucketing.pendingTombstones(spark, "band_tomb").isEmpty,
      "reband must fold the tombstones and drop the side-table")
    assert(spark.table("band_tomb").select("doc_id").distinct()
      .join(docs.filter(condemned).select("doc_id"),
        Seq("doc_id"), "left_semi").count() == 0L,
      "reband must not re-sign tombstoned docs")
  }

  test("the streaming gate primitive subtracts tombstones: a " +
      "deferred-deleted doc stops gating new arrivals immediately") {
    import spark.implicits._
    import graft.queries.Dedup
    val original = Seq((10L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    BandIndex.buildDocs(spark, "band_gate_tomb", original)
    // a near-identical re-arrival collides with the stored doc...
    val arrival = Seq((99L, "alpha beta gamma delta epsilon zeta theta"))
      .toDF("doc_id", "text")
    def gateHits: Long = {
      val b = BandIndex.recordedBanding(spark, "band_gate_tomb")
      val rows = Dedup.bandRowsOn(spark, arrival, b).localCheckpoint(true)
      BandIndex.collidingIds(spark, "band_gate_tomb", rows).count()
    }
    assert(gateHits == 1L, "fixture must collide before the delete")
    // ...until the stored doc is deferred-deleted: the gate must admit
    // from the tombstone instant, not from the physical fold
    BandIndex.deleteDeferred(spark, "band_gate_tomb",
      Seq(10L).toDF("doc_id"))
    assert(gateHits == 0L,
      "the gate must not reject against a tombstoned doc")
  }

  test("AnnIndex.deleteDeferred == eager == rebuild over survivors; " +
      "reband folds the tombstones with its rewrite") {
    AnnIndex.build(spark, sfDir, "ann_tomb", tables = 4, bits = 8,
      buckets = 16)
    val filesBefore = Bucketing.dataFileCount(spark, "ann_tomb")
    AnnIndex.deleteDeferred(spark, "ann_tomb", condemnedVecIds)
    assert(Bucketing.dataFileCount(spark, "ann_tomb") == filesBefore,
      "deferred delete must not rewrite the signature store")
    AnnIndex.build(spark, survivorDir("anntomb"), "ann_tomb_twin",
      tables = 4, bits = 8, buckets = 16)
    def rows(t: String) = AnnIndex.topK(spark, t, nAnchors = 20, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(rows("ann_tomb") == rows("ann_tomb_twin"),
      "deferred-delete ANN probe diverges from the survivor rebuild")
    AnnIndex.deleteDeferred(spark, "ann_tomb", condemnedVecIds) // re-feed
    assert(rows("ann_tomb") == rows("ann_tomb_twin"))
    // reband is a full rewrite: live membership re-signs, tombstones fold
    AnnIndex.reband(spark, "ann_tomb", tables = 2, bits = 4)
    assert(Bucketing.pendingTombstones(spark, "ann_tomb").isEmpty,
      "reband must fold the tombstones and drop the side-table")
    assert(spark.table("ann_tomb").select("vec_id").distinct()
      .join(condemnedVecIds, Seq("vec_id"), "left_semi").count() == 0L,
      "reband must not re-sign tombstoned vectors")
  }

  test("IvfIndex.deleteDeferred on BOTH storages == eager == rebuild " +
      "over survivors; refit and compact fold the tombstones") {
    val sd = survivorDir("ivftomb")
    IvfIndex.build(spark, sfDir, "ivf_tomb")
    IvfIndex.deleteDeferred(spark, "ivf_tomb", condemnedVecIds)
    IvfIndex.build(spark, sd, "ivf_tomb_twin")
    def rows(t: String) = IvfIndex.topK(spark, t, nAnchors = 20, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(rows("ivf_tomb") == rows("ivf_tomb_twin"),
      "deferred-delete IVF probe diverges from the survivor rebuild")
    // refit over LIVE membership folds the tombstones; condemned ids
    // are ≥ 20 so the deterministic first-8 fit is unchanged and the
    // post-refit probe still equals the twin's
    IvfIndex.refit(spark, "ivf_tomb", nCentroids = 8)
    assert(Bucketing.pendingTombstones(spark, "ivf_tomb").isEmpty,
      "refit must fold the tombstones and drop the side-table")
    assert(rows("ivf_tomb") == rows("ivf_tomb_twin"),
      "post-refit probe diverges from the survivor rebuild")
    // the SQ storage: same verb, quantized probe, compact as the fold
    IvfIndex.buildSq(spark, sfDir, "ivfsq_tomb")
    IvfIndex.deleteDeferred(spark, "ivfsq_tomb", condemnedVecIds)
    IvfIndex.buildSq(spark, sd, "ivfsq_tomb_twin")
    def anchors = graft.queries.Similarity.normedVectors(spark, sfDir)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"))
    def sqRows(t: String) = IvfIndex.topKForSq(spark, t, anchors, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(sqRows("ivfsq_tomb") == sqRows("ivfsq_tomb_twin"),
      "deferred-delete SQ probe diverges from the survivor rebuild")
    Bucketing.compact(spark, "ivfsq_tomb")
    assert(Bucketing.pendingTombstones(spark, "ivfsq_tomb").isEmpty)
    assert(sqRows("ivfsq_tomb") == sqRows("ivfsq_tomb_twin"),
      "the physical fold changed SQ probe results")
  }

  test("the full dedup loop closes: sweep names losers, delete purges " +
      "them, the re-sweep finds nothing left to dedup") {
    val docs = graft.Tables.documents(spark, sfDir)
    BandIndex.build(spark, sfDir, "band_loop")
    val losers = graft.queries.Dedup.resolveClusters(
        BandIndex.nearDupPairs(spark, "band_loop", docs)
          .select("doc_a", "doc_b"))
      .filter(col("canonical") =!= col("doc_id"))
      .select("doc_id")
    assert(losers.count() > 0L,
      "fixture must contain near-dup clusters for the loop test")
    BandIndex.delete(spark, "band_loop", losers)
    // survivors are one representative per cluster: no verified pair at
    // the 0.5 threshold can remain (two surviving docs with such a pair
    // would have been one connected component, hence one survivor)
    assert(BandIndex.nearDupPairs(spark, "band_loop", docs).count() == 0L,
      "after purging the losers the sweep must come back empty")
  }

  test("each family's identity guard fires first: delete, deleteDeferred " +
      "and reindex on another family's store refuse it by name and leave " +
      "it untouched") {
    import spark.implicits._
    PostingsIndex.build(spark, sfDir, "guard_post", buckets = 4)
    AnnIndex.build(spark, sfDir, "guard_ann", buckets = 4)
    IvfIndex.build(spark, sfDir, "guard_ivf", buckets = 4)
    BandIndex.build(spark, sfDir, "guard_band", buckets = 4)
    val ids = Seq(1L, 2L, 3L).toDF("id")
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 3).select("doc_id", "text")
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 3)
    val families: Seq[(String, String, Seq[(String, String => Unit)])] = Seq(
      ("PostingsIndex", "guard_post", Seq(
        "delete" -> (t => PostingsIndex.delete(spark, t, ids)),
        "deleteDeferred" -> (t => PostingsIndex.deleteDeferred(spark, t, ids)),
        "reindex" -> (t => PostingsIndex.reindex(spark, t, docs)))),
      ("AnnIndex", "guard_ann", Seq(
        "delete" -> (t => AnnIndex.delete(spark, t, ids)),
        "deleteDeferred" -> (t => AnnIndex.deleteDeferred(spark, t, ids)),
        "reindex" -> (t => AnnIndex.reindexVectors(t, vecs)))),
      ("IvfIndex", "guard_ivf", Seq(
        "delete" -> (t => IvfIndex.delete(spark, t, ids)),
        "deleteDeferred" -> (t => IvfIndex.deleteDeferred(spark, t, ids)),
        "reindex" -> (t => IvfIndex.reindexVectors(t, vecs)))),
      ("BandIndex", "guard_band", Seq(
        "delete" -> (t => BandIndex.delete(spark, t, ids)),
        "deleteDeferred" -> (t => BandIndex.deleteDeferred(spark, t, ids)),
        "reindex" -> (t => BandIndex.reindex(spark, t, docs)))))
    def state(t: String) = {
      spark.catalog.refreshTable(t)
      (spark.table(t).count(), Bucketing.dataFileCount(spark, t),
        Bucketing.pendingTombstones(spark, t).isDefined)
    }
    for ((owner, own, verbs) <- families; (_, foreign, _) <- families
        if foreign != own; (verb, run) <- verbs) {
      val before = state(foreign)
      val e = intercept[IllegalStateException](run(foreign))
      assert(e.getMessage.contains(owner),
        s"$owner.$verb on $foreign must name $owner: ${e.getMessage}")
      assert(state(foreign) == before,
        s"$owner.$verb changed the foreign store $foreign")
    }
  }
}
