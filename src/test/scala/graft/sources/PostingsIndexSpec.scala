package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted lexical index: bit-exact parity with the
  * recompute-per-run BM25 path at the same corpus, the bucket-pruning
  * property that makes it an index, and stats-correct incremental
  * append (the AnnIndexSpec pattern applied to the BM25 twin). */
class PostingsIndexSpec extends SparkSpec {

  private def queryDocs(nAnchors: Int) =
    graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < nAnchors)
      .select(col("doc_id").as("query_id"), col("text"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "doc_id", "n_terms", "score", "rank")
      .orderBy("query_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
      .toSeq

  test("topKFor over the persisted index equals bm25RankedWhere exactly " +
      "(same corpus, same anchors, bit-equal scores)") {
    PostingsIndex.build(spark, sfDir, "postings_parity")
    val got = rows(PostingsIndex.topKFor(spark, "postings_parity",
      queryDocs(8), k = 10))
    val want = rows(graft.queries.Retrieval.bm25Ranked(spark, sfDir,
      nAnchors = 8, k = 10))
    assert(got == want,
      s"index probe diverges from recompute: got=${got.take(3)} want=${want.take(3)}")
    // the pruning boundary: a query vocabulary of PruneLiteralLimit
    // terms prunes the scan by its `isin`, one term more reads the store
    // whole — both equal the recompute over the same corpus
    // (bm25RankedWhere's frame core), and neither broadcasts query rows;
    // terms no document holds pad the first query's vocabulary
    import spark.implicits._
    val words = graft.Tables.documents(spark, sfDir).orderBy("doc_id")
      .select("text").limit(16).collect().toSeq
      .map(_.getString(0).split(" ").filter(_.nonEmpty).distinct.toSeq)
    val lim = Bucketing.PruneLiteralLimit
    val real = words.flatten.distinct.size
    assert(real < lim, s"fixture vocabulary $real must sit under the limit")
    def queries(vocab: Int) = words.zipWithIndex.map { case (w, i) =>
      val pad = if (i == 0) (0 until vocab - real).map(j => s"zzpad$j") else Nil
      (9000000L + i, (w ++ pad).mkString(" "))
    }
    val corpusToks = graft.queries.Retrieval.tokenizedDocsOf(
      graft.Tables.documents(spark, sfDir))
    for ((vocab, pruned) <- Seq(lim -> true, (lim + 1) -> false)) {
      val q = queries(vocab).toDF("query_id", "text")
      val probe = PostingsIndex.topKFor(spark, "postings_parity", q, k = 10)
      val plan = probe.queryExecution.executedPlan.toString
      assert(prunesByLiteral(probe) == pruned &&
        !plan.contains("BroadcastExchange"), s"a $vocab-term vocabulary:\n$plan")
      val recompute = graft.queries.Retrieval.bm25On(
        graft.queries.Retrieval.tokenizedDocsOf(
          q.withColumnRenamed("query_id", "doc_id"))
          .withColumnRenamed("doc_id", "query_id"), corpusToks, 10)
      assert(rows(probe) == rows(recompute),
        s"a $vocab-term vocabulary: the probe diverges from the recompute")
    }
  }

  test("the probe scan is bucket-pruned by the query vocabulary") {
    PostingsIndex.build(spark, sfDir, "postings_prune", buckets = 64)
    // a query with a SMALL vocabulary so the literal set hits few buckets
    import spark.implicits._
    val q = Seq((0L, "the quick brown fox")).toDF("query_id", "text")
    val probe = PostingsIndex.topKFor(spark, "postings_prune", q, k = 5)
    val plan = probe.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in the probe scan:\n$plan")
    val (selected, total) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
    assert(total == 64 && selected <= 4 && selected < total,
      s"expected ≤4 of 64 buckets for a 4-term query, got $selected out of $total")
  }

  /** The companion's per-term totals — the fold the probe realizes:
    * build rows and append deltas sum to the same integers either way. */
  private def dfTotals(table: String): Map[String, Long] =
    spark.table(PostingsIndex.dfTableOf(table))
      .groupBy("term").agg(sum(col("df")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("incremental append: build on half the corpus, append the rest — " +
      "probes equal the full build (stats folded in), still pruned") {
    PostingsIndex.build(spark, sfDir, "postings_inc",
      corpusPred = col("doc_id") % 2 === 0)
    PostingsIndex.append(spark, sfDir, "postings_inc",
      pred = col("doc_id") % 2 =!= 0)
    PostingsIndex.build(spark, sfDir, "postings_whole")
    assert(PostingsIndex.stats(spark, "postings_inc") ==
      PostingsIndex.stats(spark, "postings_whole"),
      "appended stats must fold to the full build's (n_docs, sum_dl)")
    assert(dfTotals("postings_inc") == dfTotals("postings_whole"),
      "appended per-term df deltas must sum to the full build's df")
    val q = queryDocs(8)
    assert(rows(PostingsIndex.topKFor(spark, "postings_inc", q, k = 10)) ==
      rows(PostingsIndex.topKFor(spark, "postings_whole", q, k = 10)),
      "incrementally-built index diverges from the full build")
    val plan = PostingsIndex.topKFor(spark, "postings_inc",
      spark.createDataFrame(Seq((0L, "alpha beta"))).toDF("query_id", "text"),
      k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"append broke bucket pruning:\n$plan")
  }

  test("refreshStats recomputes the recorded stats AND the df companion " +
      "from the table itself (the interrupted-append recovery path)") {
    PostingsIndex.build(spark, sfDir, "postings_refresh")
    val want = PostingsIndex.stats(spark, "postings_refresh")
    val wantDf = dfTotals("postings_refresh")
    // simulate a lost stats fold (crash between insert and property write)
    spark.sql("ALTER TABLE postings_refresh SET TBLPROPERTIES (" +
      "'graft.bm25.n_docs' = '1', 'graft.bm25.sum_dl' = '1')")
    // and a lost df-delta insert: clobber the companion with junk
    import spark.implicits._
    Bucketing.writeBucketed(Seq(("junkterm", 99L)).toDF("term", "df"),
      PostingsIndex.dfTableOf("postings_refresh"), "term", 64)
    PostingsIndex.refreshStats(spark, "postings_refresh")
    assert(PostingsIndex.stats(spark, "postings_refresh") == want,
      "refreshStats must restore the build-time collection stats")
    assert(dfTotals("postings_refresh") == wantDf,
      "refreshStats must rebuild the df companion from the postings")
  }

  test("a null-text document still owns a posting row (the ≥1-row " +
      "invariant refreshStats's exactness rests on)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    Bucketing.writeBucketed(
      spark.createDataFrame(Seq((("seed"), 0L, 1L, 1L)))
        .toDF("term", "doc_id", "dl", "tf").limit(0),
      "postings_nulltext", "term", 4)
    Bucketing.writeBucketed(
      spark.createDataFrame(Seq((("seed"), 1L))).toDF("term", "df").limit(0),
      PostingsIndex.dfTableOf("postings_nulltext"), "term", 4)
    spark.sql("ALTER TABLE postings_nulltext SET TBLPROPERTIES (" +
      "'graft.bm25.n_docs' = '0', 'graft.bm25.sum_dl' = '0')")
    PostingsIndex.appendDocs("postings_nulltext", docs)
    // both docs in stats, both docs own rows — null tokenized as empty
    assert(PostingsIndex.stats(spark, "postings_nulltext")._1 == 2L)
    val ids = spark.table("postings_nulltext")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L),
      s"the null-text doc must not vanish from its own postings: $ids")
    // and the recovery path agrees with the recorded stats
    val before = PostingsIndex.stats(spark, "postings_nulltext")
    PostingsIndex.refreshStats(spark, "postings_nulltext")
    assert(PostingsIndex.stats(spark, "postings_nulltext") == before,
      "refreshStats diverges from the fold on a null-text corpus")
  }

  test("ensureFor folds layout parameters into the table identity: a " +
      "different bucket count builds a different table, never a stale hit") {
    val t1 = PostingsIndex.ensureFor(spark, sfDir, tag = "memokey", buckets = 8)
    val t2 = PostingsIndex.ensureFor(spark, sfDir, tag = "memokey", buckets = 16)
    assert(t1 != t2, "layout change must not be served the memoized table")
    assert(PostingsIndex.ensureFor(spark, sfDir, tag = "memokey",
      buckets = 8) == t1, "same layout must hit the memo")
  }

  test("ensureFor folds the corpus predicate into the table identity: a " +
      "reused tag with a different predicate builds a different table") {
    val t1 = PostingsIndex.ensureFor(spark, sfDir, tag = "predkey",
      corpusPred = col("doc_id") % 2 === 0, buckets = 8)
    val t2 = PostingsIndex.ensureFor(spark, sfDir, tag = "predkey",
      corpusPred = col("doc_id") % 2 === 1, buckets = 8)
    assert(t1 != t2,
      "two predicates sharing a tag must not silently share one index")
    assert(PostingsIndex.ensureFor(spark, sfDir, tag = "predkey",
      corpusPred = col("doc_id") % 2 === 0, buckets = 8) == t1,
      "an equal predicate reconstructed from scratch must hit the memo")
  }

  test("stats() fails loudly on a table not built by PostingsIndex") {
    import spark.implicits._
    Bucketing.writeBucketed(
      Seq(("t", 1L, 2L, 1L)).toDF("term", "doc_id", "dl", "tf"),
      "postings_unbuilt", "term", 2)
    val e = intercept[IllegalStateException] {
      PostingsIndex.stats(spark, "postings_unbuilt")
    }
    assert(e.getMessage.contains("graft.bm25"))
  }

  test("read-committed probe: an index with no committed documents serves " +
      "the empty result — even when an in-flight append's rows are already " +
      "visible (the stats statement is the commit point; found by SoakProbe)") {
    import org.apache.spark.sql.functions.{col, lit}
    // built empty: stats record (0, 0)
    PostingsIndex.build(spark, sfDir, "postings_rc", corpusPred = lit(false))
    val bench = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    // committed-empty, no visible rows: empty result, no ANSI
    // DIVIDE_BY_ZERO from the n_docs = 0 avgdl denominator
    assert(PostingsIndex.topKFor(spark, "postings_rc", bench, 5).count() == 0L)
    // simulate the mid-first-append window: rows inserted, stats (and
    // marker) not yet — the serving thread's exact race in the soak
    import spark.implicits._
    Seq(("zzz", 9999L, 1L, 1L)).toDF("term", "doc_id", "dl", "tf")
      .write.mode("append").insertInto("postings_rc")
    Seq(("zzz", 1L)).toDF("term", "df")
      .write.mode("append").insertInto(PostingsIndex.dfTableOf("postings_rc"))
    assert(PostingsIndex.topKFor(spark, "postings_rc", bench, 5).count() == 0L,
      "uncommitted rows must not be served (and must not crash the probe)")
  }
}
