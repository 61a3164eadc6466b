package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bucketing.compact — the small-files maintenance pass for the
  * append-heavy index lifecycle: after a build + repeated appends, a
  * compaction must shrink the table to one file per bucket while
  * leaving probe output row-identical, the engine's graft.* properties
  * intact, and bucket pruning alive. */
class CompactionSpec extends SparkSpec {

  private def dataFiles(table: String): Seq[java.nio.file.Path] = {
    val warehouse = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir"))
    val dir = java.nio.file.Paths.get(warehouse.getPath, table)
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(dir)) { st =>
      st.iterator.asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .toSeq
    }
  }

  test("postings: build + 2 appends accumulate files; compact rewrites the " +
      "pair to one file per occupied bucket with probes row-identical, " +
      "stats, user properties, df totals and pruning preserved") {
    PostingsIndex.build(spark, sfDir, "compact_post",
      corpusPred = col("doc_id") % 3 === 0, buckets = 8)
    PostingsIndex.append(spark, sfDir, "compact_post",
      pred = col("doc_id") % 3 === 1)
    PostingsIndex.append(spark, sfDir, "compact_post",
      pred = col("doc_id") % 3 === 2)
    // a NON-graft user property must survive maintenance too (the
    // staged swap restores everything outside Spark's own namespaces)
    spark.sql("ALTER TABLE compact_post SET TBLPROPERTIES (" +
      "'owner.note' = 'r18', 'owner.quote' = \"it's mine\")")
    val q = graft.Tables.documents(spark, sfDir).filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"), col("text"))
    def rows() = PostingsIndex.topKFor(spark, "compact_post", q, k = 10)
      .select("query_id", "doc_id", "n_terms", "score", "rank")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSeq
    def dfTotals() = spark.table(PostingsIndex.dfTableOf("compact_post"))
      .groupBy("term").agg(sum(col("df")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = rows()
    val statsBefore = PostingsIndex.stats(spark, "compact_post")
    val dfBefore = dfTotals()
    val filesBefore = dataFiles("compact_post").size
    assert(filesBefore > 8,
      s"three bucketed writes must exceed one file per bucket, got $filesBefore")

    PostingsIndex.compact(spark, "compact_post")

    val filesAfter = dataFiles("compact_post").size
    assert(filesAfter <= 8 && filesAfter < filesBefore,
      s"compaction must reach one file per occupied bucket: $filesBefore -> $filesAfter")
    val dfFiles = dataFiles(PostingsIndex.dfTableOf("compact_post")).size
    assert(dfFiles <= 8,
      s"the df companion must compact to one file per bucket too, got $dfFiles")
    assert(PostingsIndex.stats(spark, "compact_post") == statsBefore,
      "compaction must carry the collection stats through the rewrite")
    assert(dfTotals() == dfBefore,
      "the df merge changed per-term totals")
    val mergedRows = spark.table(PostingsIndex.dfTableOf("compact_post")).count()
    assert(mergedRows == dfBefore.size,
      s"df deltas must merge to one row per term: $mergedRows vs ${dfBefore.size}")
    assert(rows() == before, "compaction changed probe output")
    val props = spark.sql("SHOW TBLPROPERTIES compact_post").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("owner.note").contains("r18"),
      "a user property was dropped by the staged swap")
    assert(props.get("owner.quote").contains("it's mine"),
      "a user property holding a quote broke or was dropped by the swap")
    val plan = PostingsIndex.topKFor(spark, "compact_post",
        spark.createDataFrame(Seq((0L, "alpha beta"))).toDF("query_id", "text"),
        k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"compaction broke bucket pruning:\n$plan")
  }

  test("mid-stream triggered compaction: curatedIndexed with a file-count " +
      "threshold keeps the pair's file count bounded across batches while " +
      "probes stay row-identical to the batch rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationChain
    val T0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def text(i: Long): String =
      (0 until 8).map(k => s"m${i}w$k").mkString(" ")
    // one source per batch: the chain's per-source quota (Cap = 20)
    // must not reject anyone — this case is about maintenance, not caps
    val batches = (0 until 8).map(b =>
      (1L + b * 10 to 5L + b * 10).map(i => (i, T0, s"sM$b", text(i))))

    PostingsIndex.build(spark, sfDir, "compact_stream",
      corpusPred = lit(false), buckets = 4)
    // threshold low enough that several batches trip it: 4 buckets, each
    // append adds up to 4 files, so 8 appends un-compacted would be ~32+
    val threshold = 10

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "source", "text")
    val q = CurationChain.curatedIndexed(docs, "compact_stream",
      compactAboveFiles = threshold).start()
    try batches.foreach { b =>
      input.addData(b: _*)
      q.processAllAvailable()
      val n = dataFiles("compact_stream").size +
        dataFiles(PostingsIndex.dfTableOf("compact_stream")).size
      // bound: threshold (the trip point) + one un-compacted append on
      // each table of the pair (≤ buckets files each)
      assert(n <= threshold + 8,
        s"file count unbounded under the trigger: $n after this batch")
    } finally q.stop()

    // probes over the stream-grown, repeatedly-compacted index equal the
    // batch rebuild over the same doc set
    val d = java.nio.file.Files.createTempDirectory("compactstream").toString
    batches.flatten.map(r => (r._1, r._4)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    PostingsIndex.build(spark, d, "compact_stream_rebuild", buckets = 4)
    val bench = Seq((900L, text(11L))).toDF("query_id", "text")
    def rows(t: String) = PostingsIndex.topKFor(spark, t, bench, k = 10)
      .select("query_id", "doc_id", "n_terms", "score", "rank")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSeq
    assert(rows("compact_stream") == rows("compact_stream_rebuild"),
      "mid-stream compaction diverged the index from the batch rebuild")
    assert(PostingsIndex.stats(spark, "compact_stream") ==
      PostingsIndex.stats(spark, "compact_stream_rebuild"),
      "mid-stream compaction lost a stats fold")
  }

  test("ann: compaction preserves the banding properties, so appends keep " +
      "their mismatch guard and probes stay equal") {
    AnnIndex.build(spark, sfDir, "compact_ann", tables = 4, bits = 8,
      buckets = 8)
    val e = graft.Tables.embeddings(spark, sfDir)
    AnnIndex.appendVectors("compact_ann", e.filter(col("vec_id") >= 10000))
    def rows() = AnnIndex.topK(spark, "compact_ann", nAnchors = 20, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    val before = rows()
    Bucketing.compact(spark, "compact_ann")
    assert(rows() == before, "compaction changed the ANN probe")
    // the banding survived: a mismatched append still fails loudly
    val err = intercept[IllegalArgumentException] {
      AnnIndex.appendVectors("compact_ann", e.limit(0), tables = 2, bits = 4)
    }
    assert(err.getMessage.contains("banding"))
  }

  test("ivf: compaction preserves the fit-version property, so the " +
      "pair guard holds and probes stay equal") {
    IvfIndex.build(spark, sfDir, "compact_ivf", buckets = 4)
    val e = graft.Tables.embeddings(spark, sfDir)
    IvfIndex.appendVectors("compact_ivf",
      e.limit(5).select((col("vec_id") + 80000L).as("vec_id"),
        col("label"), col("embedding")))
    def rows() = IvfIndex.topK(spark, "compact_ivf", nAnchors = 20, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    val before = rows()
    val filesBefore = dataFiles("compact_ivf").size
    Bucketing.compact(spark, "compact_ivf")
    assert(dataFiles("compact_ivf").size < filesBefore,
      "compaction must shrink the appended cell store's file count")
    // rows identical AND the fit guard still passes (the graft.ivf.fit
    // property carried through — a dropped version would fail loudly here)
    assert(rows() == before, "compaction changed the IVF probe")
    IvfIndex.appendVectors("compact_ivf",
      e.limit(1).select((col("vec_id") + 81000L).as("vec_id"),
        col("label"), col("embedding")))
  }

  test("band: compaction preserves the banding properties; probes and the " +
      "mismatch guard survive") {
    BandIndex.build(spark, sfDir, "compact_band",
      corpusPred = col("doc_id") < 300, buckets = 4)
    BandIndex.append(spark, sfDir, "compact_band",
      col("doc_id") >= 300 && col("doc_id") < 600)
    val corpus = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 600).select("doc_id", "text")
    val queries = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 600 && col("doc_id") < 650)
      .select("doc_id", "text")
    def pairs() = BandIndex.nearDupsFor(spark, "compact_band",
      corpus, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = pairs()
    val filesBefore = dataFiles("compact_band").size
    Bucketing.compact(spark, "compact_band")
    assert(dataFiles("compact_band").size <= 4,
      s"band compaction must reach one file per bucket, had $filesBefore")
    assert(pairs() == before, "compaction changed the band probe")
  }

  test("a rewrite sees rows another session committed: appends through " +
      "a second session survive compaction of the postings pair and of a " +
      "family without derived state, equal to a rebuild") {
    val other = spark.newSession()
    val odd = col("doc_id") % 2 === 1
    def docsIn(s: org.apache.spark.sql.SparkSession) =
      graft.Tables.documents(s, sfDir).select("doc_id", "text")
    def rowsOf(t: String) = {
      spark.catalog.refreshTable(t)
      spark.table(t).collect().map(_.toSeq).toSet
    }
    // postings: this session reads the pair (caching its listing), the
    // other session appends, this session compacts
    PostingsIndex.build(spark, sfDir, "compact_xs_post",
      corpusPred = !odd, buckets = 4)
    PostingsIndex.build(spark, sfDir, "compact_xs_post_ref", buckets = 4)
    spark.table("compact_xs_post").count()
    spark.table(PostingsIndex.dfTableOf("compact_xs_post")).count()
    PostingsIndex.appendDocs("compact_xs_post", docsIn(other).filter(odd))
    PostingsIndex.compact(spark, "compact_xs_post")
    assert(rowsOf("compact_xs_post") == rowsOf("compact_xs_post_ref"),
      "compaction dropped postings another session committed")
    assert(rowsOf(PostingsIndex.dfTableOf("compact_xs_post")) ==
      rowsOf(PostingsIndex.dfTableOf("compact_xs_post_ref")),
      "the df merge dropped deltas another session committed")
    assert(PostingsIndex.stats(spark, "compact_xs_post") ==
      PostingsIndex.stats(spark, "compact_xs_post_ref"))
    // band: no derived state, the plain Bucketing.compact path
    BandIndex.build(spark, sfDir, "compact_xs_band", corpusPred = !odd,
      buckets = 4)
    BandIndex.build(spark, sfDir, "compact_xs_band_ref", buckets = 4)
    spark.table("compact_xs_band").count()
    BandIndex.appendDocs("compact_xs_band", docsIn(other).filter(odd))
    Bucketing.compact(spark, "compact_xs_band")
    assert(rowsOf("compact_xs_band") == rowsOf("compact_xs_band_ref"),
      "compaction dropped band rows another session committed")
  }

  test("compact refuses an unbucketed table") {
    import spark.implicits._
    // the writeBucketed leftover-dir cleanup, for a FLAT table: an
    // in-memory catalog forgets tables between JVMs while the warehouse
    // dir persists, and saveAsTable refuses the "new" location
    spark.sql("DROP TABLE IF EXISTS compact_flat")
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    val leftover = java.nio.file.Paths.get(warehouse.getPath, "compact_flat")
    if (java.nio.file.Files.exists(leftover)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(leftover).iterator.asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    Seq((1L, "x")).toDF("id", "v").write.saveAsTable("compact_flat")
    val err = intercept[IllegalStateException] {
      Bucketing.compact(spark, "compact_flat")
    }
    assert(err.getMessage.contains("not bucketed"))
  }
}
