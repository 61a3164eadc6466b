package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The composed streaming curation chain (CurationChain): three
  * stateful twins in one plan (dedup → quota → pack), the foreachBatch
  * splice (dedup → quota → decontam), end-state parity against the
  * batch stages composed in the same order, cross-batch state
  * co-existence in one checkpoint — all run under the production
  * RocksDB state-store provider (SCALING.md round 15). */
class StreamingChainSpec extends SparkSpec {

  private val T0 = Timestamp.valueOf("2026-01-01 00:00:00")

  /** Run every chain query under the documented production provider —
    * the chain's state stores (dedup + two fMGWS) share it. */
  private def withRocksDB[T](f: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  private def streamOf(batches: Seq[Seq[(Long, String, String)]])(
      drive: org.apache.spark.sql.DataFrame => (
          () => Unit) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "source", "text")
    var i = 0
    drive(docs) { () =>
      input.addData(batches(i).map(r => (r._1, T0, r._2, r._3)): _*)
      i += 1
    }
  }

  /** Batch reference for the chain's stages in the chain's order over a
    * SINGLE delivery: distinct by doc_id (first wins), per-source
    * top-Cap by (n_chars desc, doc_id), then q53-style packing of the
    * kept docs in doc_id order per source. */
  private def batchReference(rows: Seq[(Long, String, String)])
      : (Set[Long], Map[Long, (Long, Long, Long)]) = {
    val uniq = rows.foldLeft(Vector.empty[(Long, String, String)]) {
      (acc, r) => if (acc.exists(_._1 == r._1)) acc else acc :+ r
    }
    val kept = uniq.groupBy(_._2).flatMap { case (_, ds) =>
      ds.sortBy(d => (-d._3.length.toLong, d._1))
        .take(QuotaStream.Cap.toInt).map(_._1)
    }.toSet
    val spans = uniq.filter(d => kept(d._1)).groupBy(_._2).flatMap {
      case (_, ds) =>
        var off = 0L
        ds.sortBy(_._1).map { case (id, _, text) =>
          val n = text.split(" ").length.toLong
          val s = off; off += n
          id -> (n, s, s / PackStream.SeqLen)
        }
    }.toMap
    (kept, spans)
  }

  test("one-batch delivery: dedup -> quota -> pack matches the batch " +
      "stages composed in the same order (RocksDB provider)") {
    // sA: 25 docs (5 over quota), varying lengths; sB: 5 docs; one
    // same-batch duplicate delivery of doc 3
    val sA = (1L to 25L).map(i =>
      (i, "sA", (0 until (4 + (i % 3)).toInt).map(k => s"a${i}w$k").mkString(" ")))
    val sB = (101L to 105L).map(i => (i, "sB", s"b$i x y z"))
    val rows = sA ++ Seq(sA(2)) ++ sB
    val (kept, spans) = batchReference(rows)
    assert(kept.size == 25, "20 of sA + all 5 of sB survive the cap")

    var plan = ""
    withRocksDB {
      streamOf(Seq(rows)) { docs => push =>
        val q = CurationChain.curatedPacked(docs)
          .writeStream.format("memory").queryName("chain_one")
          .outputMode("append").start()
        push(); q.processAllAvailable()
        plan = q.asInstanceOf[StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan.toString
        q.stop()
      }
    }
    // CurationChain's scale-shape claim: one keyed exchange per stateful
    // stage (doc_id for dedup, source for quota, source again for pack)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 3, plan)
    val got = spark.table("chain_one").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("start_tok"),
          r.getAs[Long]("first_seq"))).toMap
    assert(got.keySet == kept,
      s"packed exactly the kept docs; diff=${got.keySet.diff(kept) ++ kept.diff(got.keySet)}")
    assert(got == spans)
  }

  test("cross-batch: a re-delivery never re-enters the quota, the cap " +
      "binds across batches, pack offsets continue (one checkpoint)") {
    val b1 = (1L to 15L).map(i => (i, "s1", s"d$i t u"))
    // batch 2: 15 new docs + a RE-DELIVERY of doc 7 (identical row)
    val b2 = (16L to 30L).map(i => (i, "s1", s"d$i t u")) :+ b1(6)

    withRocksDB {
      streamOf(Seq(b1, b2)) { docs => push =>
        val dec = CurationChain.cappedDocs(docs)
          .writeStream.format("memory").queryName("chain_dec")
          .outputMode("append").start()
        push(); dec.processAllAvailable()
        push(); dec.processAllAvailable(); dec.stop()
      }
      streamOf(Seq(b1, b2)) { docs => push =>
        val q = CurationChain.curatedPacked(docs)
          .writeStream.format("memory").queryName("chain_pack")
          .outputMode("append").start()
        push(); q.processAllAvailable()
        push(); q.processAllAvailable(); q.stop()
      }
    }

    val dec = spark.table("chain_dec").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("kept"), r.getAs[Long]("seen_after"))).toMap
    // dedup dropped the re-delivery BEFORE the quota: 30 decisions, not
    // 31, and the domain's seen counter tops at 30
    assert(dec.size == 30)
    assert(dec.values.map(_._2).max == 30L)
    // all of batch 1 fits; batch 2 admits its 5 best = lowest doc_ids
    // (equal lengths, doc_id ties) among the NEW docs
    assert((1L to 15L).forall(dec(_)._1))
    assert((16L to 30L).filter(dec(_)._1).toSet == Set(16L, 17L, 18L, 19L, 20L))

    val packed = spark.table("chain_pack").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("start_tok")).toMap
    assert(packed.keySet == (1L to 20L).toSet)
    // batch-1 spans: ids 1..15 in doc_id order, 3 tokens each; batch-2
    // spans CONTINUE at offset 45 without re-scanning the packed prefix
    (1L to 15L).foreach(i => assert(packed(i) == (i - 1) * 3))
    (16L to 20L).foreach(i => assert(packed(i) == 45 + (i - 16) * 3))
  }

  test("plan-native classifier gate: dedup -> quota -> classifier -> pack " +
      "stays ONE plan; only positive-margin docs reach packing") {
    import spark.implicits._
    // hash-collision-free class vocabularies (the ClassifierTrainSpec
    // rule: a good/junk bucket collision would leak updates across
    // classes and make a junk doc's margin nonzero)
    def bucketOf(bigram: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Integer.parseInt(
        md.digest(bigram.getBytes("UTF-8")).take(1).map(b => f"$b%02x").mkString, 16)
    }
    def pairBuckets(ws: Seq[String]): Set[Int] =
      (for (a <- ws; b <- ws) yield bucketOf(s"$a $b")).toSet
    val good = (0 until 4).map(i => s"fine$i")
    val junk = (0 until 1000).iterator
      .map(seed => (0 until 4).map(i => s"junk${seed}x$i"))
      .find(ws => pairBuckets(ws).intersect(pairBuckets(good)).isEmpty).get
    def text(ws: Seq[String], salt: Long): String =
      (0 until 12).map(j => ws(((salt + j) % 4).toInt)).mkString(" ")
    val trainDocs = (
      (0 until 8).map(i => (i.toLong, text(good, i), "src0")) ++
      (8 until 24).map(i => (i.toLong, text(junk, i), "src1"))
    ).toDF("doc_id", "text", "source")
    val w = graft.queries.Text.perceptronTrain(
      graft.queries.Text.perceptronDb(spark, trainDocs))

    // chain input: 10 docs under the cap, even ids good-vocab, odd junk;
    // doc 1 re-delivered in-batch (dedup must keep the first)
    val rows = (1L to 10L).map { i =>
      (i, "sC", text(if (i % 2 == 0) good else junk, i))
    } :+ (1L, "sC", text(good, 99L))
    val packed = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    withRocksDB {
      streamOf(Seq(rows)) { docs => push =>
        val q = CurationChain.curatedQualityPacked(docs, w)
          .writeStream.format("memory").queryName("chain_quality")
          .outputMode("append").start()
        push(); q.processAllAvailable(); q.stop()
      }
    }
    val got = spark.table("chain_quality")
      .select("doc_id", "n_tok", "start_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly the even (good-vocab) docs pass the gate; doc 1's
    // re-delivered good-vocab copy must NOT resurrect it (dedup kept the
    // first, junk-vocab, delivery — the stage ORDER is observable here)
    assert(got.map(_._1).toSet == (2L to 10L by 2).toSet,
      s"gate kept: ${got.map(_._1).sorted.toSeq}")
    // packing is contiguous in doc_id order over the FILTERED set
    val inOrder = got.sortBy(_._1)
    var off = 0L
    inOrder.foreach { case (id, n, start) =>
      assert(start == off, s"doc $id starts at $start, expected $off")
      off += n
    }
  }

  test("foreachBatch splice: dedup -> quota -> decontam emits verdicts " +
      "for exactly the kept docs, matching the stateless kernel") {
    import spark.implicits._
    // 22 docs: 2 lose the quota; doc 1 carries the benchmark 8-gram run
    val benchRun = (0 until 8).map(i => s"g$i").mkString(" ")
    val rows = (1L to 22L).map { i =>
      val filler = (0 until 10).map(k => s"c${i}w$k").mkString(" ")
      (i, "sC", if (i == 1) s"$benchRun $filler" else s"$filler extra$i pad")
    }
    val bench = Seq((900L, benchRun + " tail0 tail1")).toDF("doc_id", "text")
    val benchGrams = DecontamStream.benchmarkGrams(spark, bench)

    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Boolean)]()
    withRocksDB {
      streamOf(Seq(rows)) { docs => push =>
        val q = CurationChain.curatedVerdicts(docs, benchGrams) { (df, _) =>
          buf.synchronized {
            buf ++= df.collect().map(r => (r.getAs[Long]("doc_id"),
              r.getAs[Long]("n_shared"), r.getAs[Boolean]("contaminated")))
          }
        }.start()
        push(); q.processAllAvailable(); q.stop()
      }
    }
    val (kept, _) = batchReference(rows)
    assert(buf.map(_._1).toSet == kept, "verdicts for exactly the kept docs")
    // the planted doc is kept (longest text -> top quota rank) and dirty
    val byId = buf.map(b => b._1 -> b).toMap
    assert(byId(1L)._3 && byId(1L)._2 >= 1L)
    assert(buf.filter(_._1 != 1L).forall(!_._3), "only the plant is dirty")
    // parity with the stateless kernel run directly on the kept set
    val direct = DecontamStream.verdictsBatch(
        rows.filter(r => kept(r._1)).map(r => (r._1, r._3))
          .toDF("doc_id", "text"), benchGrams)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_shared"), r.getAs[Boolean]("contaminated"))).toSet
    assert(buf.toSet == direct)
  }

  test("streaming index ingestion: the chain's kept docs grow the postings " +
      "index per batch — probes see exactly the corpus ingested so far, " +
      "dedup protects the index from a re-delivery, and the final index " +
      "equals the batch rebuild over the same kept set") {
    import spark.implicits._
    import graft.sources.PostingsIndex
    def text(i: Long, extra: String = ""): String =
      ((0 until 8).map(k => s"v${i}w$k") ++
        (if (extra.nonEmpty) Seq(extra) else Nil)).mkString(" ")
    // batch 1 doc 1 and batch 3 doc 11 carry the bench term; doc 1 is
    // RE-DELIVERED in batch 2 (dedup must keep the index single-copy)
    val b1 = (1L to 5L).map(i => (i, "sI", text(i, if (i == 1) "probeterm" else "")))
    val b2 = (6L to 10L).map(i => (i, "sI", text(i))) :+ b1.head
    val b3 = (11L to 15L).map(i => (i, "sI", text(i, if (i == 11) "probeterm" else "")))
    val bench = Seq((900L, "probeterm alone")).toDF()
      .toDF("query_id", "text")

    // empty seed: the stream owns the whole corpus
    PostingsIndex.build(spark, sfDir, "stream_post",
      corpusPred = org.apache.spark.sql.functions.lit(false))
    assert(PostingsIndex.stats(spark, "stream_post") == ((0L, 0L)))

    def probeIds(): Set[Long] =
      PostingsIndex.topKFor(spark, "stream_post", bench, k = 10)
        .select("doc_id").collect().map(_.getLong(0)).toSet

    withRocksDB {
      streamOf(Seq(b1, b2, b3)) { docs => push =>
        val q = CurationChain.curatedIndexed(docs, "stream_post").start()
        // mid-stream assert: stop the query even on failure, or it keeps
        // appending under later tests in the suite
        try {
          push(); q.processAllAvailable()
          assert(probeIds() == Set(1L),
            "after batch 1 the probe must see exactly batch 1's plant")
          push(); q.processAllAvailable()
          push(); q.processAllAvailable()
        } finally q.stop()
      }
    }
    assert(probeIds() == Set(1L, 11L),
      "after batch 3 both plants are indexed, nothing else matches")
    // dedup protected the index: 15 docs, not 16
    assert(PostingsIndex.stats(spark, "stream_post")._1 == 15L)

    // the streamed index equals the batch rebuild over the same kept set
    val d = java.nio.file.Files.createTempDirectory("streampost").toString
    (b1 ++ b2.dropRight(1) ++ b3).map(r => (r._1, r._3))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    PostingsIndex.build(spark, d, "stream_post_rebuild")
    assert(PostingsIndex.stats(spark, "stream_post") ==
      PostingsIndex.stats(spark, "stream_post_rebuild"))
    def rows(t: String) = PostingsIndex.topKFor(spark, t, bench, k = 10)
      .select("query_id", "doc_id", "n_terms", "score", "rank")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSeq
    assert(rows("stream_post") == rows("stream_post_rebuild"),
      "stream-grown index diverges from the batch rebuild")
  }

  test("gated index ingestion: the q126 content gate in the sink rejects " +
      "what the chain's delivery dedup structurally cannot — a content " +
      "duplicate under a fresh doc_id and a pre-sealed text — while " +
      "admissions grow both the store and the index") {
    import spark.implicits._
    import graft.queries.Curation
    import graft.sources.PostingsIndex
    def text(i: Long): String =
      (0 until 8).map(k => s"g${i}w$k").mkString(" ")
    val sealedText = "presealed corpus document text here now"
    // batch 1: docs 1-3 novel; batch 2: doc 99 carries DOC 1'S TEXT (a
    // content dup under a fresh id — the doc_id-keyed dedup stage admits
    // it), doc 98 carries the PRE-SEALED text, docs 4-5 novel; batch 3:
    // doc 1 RE-DELIVERED verbatim (the delivery dup the chain dedup
    // catches), doc 6 novel
    val b1 = (1L to 3L).map(i => (i, "sG", text(i)))
    val b2 = Seq((99L, "sG", text(1L)), (98L, "sG", sealedText),
      (4L, "sG", text(4L)), (5L, "sG", text(5L)))
    val b3 = Seq((1L, "sG", text(1L)), (6L, "sG", text(6L)))

    val sealedFps = Seq(sealedText).toDF("text")
      .select(Curation.bowFingerprint.as("fp"))
    Curation.sealStore("gated_sealed", sealedFps, buckets = 8)
    val bloom = sealedFps.select(xxhash64(col("fp")).as("h"))
      .stat.bloomFilter("h", 100L, 0.01)
    PostingsIndex.build(spark, sfDir, "gated_post", corpusPred = lit(false))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "source", "text")
    withRocksDB {
      val q = CurationChain.curatedGatedIndexed(docs, "gated_sealed",
        "gated_post", bloom, capacity = 100L).start()
      try Seq(b1, b2, b3).foreach { b =>
        input.addData(b.map(r => (r._1, T0, r._2, r._3)): _*)
        q.processAllAvailable()
      } finally q.stop()
    }

    // admitted: 1,2,3 (batch 1), 4,5 (batch 2 — 99 is doc 1's content,
    // 98 is sealed), 6 (batch 3 — doc 1's re-delivery died at the
    // delivery dedup before the gate)
    spark.catalog.refreshTable("gated_post")
    val indexed = spark.table("gated_post")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 3L, 4L, 5L, 6L),
      s"gate admissions wrong: $indexed")
    assert(PostingsIndex.stats(spark, "gated_post")._1 == 6L,
      "stats must count exactly the admissions")
    // the store holds the seed + one fp per admitted content
    spark.catalog.refreshTable("gated_sealed")
    assert(spark.table("gated_sealed").count() == 7L,
      "sealed store must grow by exactly the admitted fingerprints")
    // and the gate-grown index equals the batch rebuild over the admitted set
    val d = java.nio.file.Files.createTempDirectory("gatedidx").toString
    (1L to 6L).map(i => (i, text(i))).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    PostingsIndex.build(spark, d, "gated_post_rebuild")
    val bench = Seq((900L, text(1L))).toDF("query_id", "text")
    def rows(t: String) = PostingsIndex.topKFor(spark, t, bench, k = 10)
      .select("query_id", "doc_id", "n_terms", "score", "rank")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSeq
    assert(rows("gated_post") == rows("gated_post_rebuild"),
      "gate-grown index diverges from the batch rebuild over admissions")
  }

  test("near-dup gate ingestion: the band store rejects the lightly-edited " +
      "rewrite the content gate structurally cannot — cross-batch under a " +
      "fresh doc_id and within one batch — while survivors grow the store " +
      "to equal the batch rebuild over admissions") {
    import spark.implicits._
    import graft.sources.BandIndex
    def text(i: Long): String = (0 until 8).map(k => s"n${i}w$k").mkString(" ")
    // plants verified offline at the engine banding: appending one word
    // to an 8-word doc keeps J = 6/7 and collides on ≥2 of the 4 bands;
    // the novel docs share no band
    val b1 = (1L to 3L).map(i => (i, "sN", text(i)))
    // 99 = doc 1's text lightly edited under a FRESH id (the doc_id
    // dedup admits it; the band gate must not)
    val b2 = Seq((99L, "sN", text(1L) + " extraword"),
      (4L, "sN", text(4L)), (5L, "sN", text(5L)))
    val w96 = (0 until 8).map(k => s"m96w$k").mkString(" ")
    // batch 3: doc 1 re-delivered (dies at the delivery dedup), a
    // WITHIN-batch near-dup pair (96, 97 — smaller id wins), one novel
    val b3 = Seq((1L, "sN", text(1L)), (96L, "sN", w96),
      (97L, "sN", w96 + " extraword"), (6L, "sN", text(6L)))

    // empty seed: the stream owns the whole store
    BandIndex.build(spark, sfDir, "stream_bands", corpusPred = lit(false))
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    withRocksDB {
      streamOf(Seq(b1, b2, b3)) { docs => push =>
        val q = CurationChain.curatedBandIndexed(docs, "stream_bands") {
          (adm, _) =>
            admitted ++= adm.select("doc_id").collect().map(_.getLong(0))
        }.start()
        try {
          push(); q.processAllAvailable()
          push(); q.processAllAvailable()
          push(); q.processAllAvailable()
        } finally q.stop()
      }
    }
    assert(admitted.toSet == Set(1L, 2L, 3L, 4L, 5L, 6L, 96L),
      s"gate admissions wrong: ${admitted.sorted}")
    spark.catalog.refreshTable("stream_bands")
    def storeRows(t: String) = spark.table(t).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(storeRows("stream_bands").map(_._3) ==
      Set(1L, 2L, 3L, 4L, 5L, 6L, 96L),
      "the store must hold band rows for exactly the admissions")
    // the gate-grown store equals the batch rebuild over the admitted set
    val d = java.nio.file.Files.createTempDirectory("streambands").toString
    (b1 ++ b2.tail ++ Seq(b3(1), b3(3))).map(r => (r._1, r._3))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    BandIndex.build(spark, d, "stream_bands_rebuild")
    assert(storeRows("stream_bands") == storeRows("stream_bands_rebuild"),
      "gate-grown store diverges from the batch rebuild over admissions")
  }

  test("streaming vector ingestion: the dedup gate feeds AnnIndex per " +
      "batch — probes see exactly the vectors ingested so far, a " +
      "re-delivery never double-appends, and the stream-grown index " +
      "equals the batch rebuild row-for-row") {
    import spark.implicits._
    import graft.sources.AnnIndex
    // 15 REAL corpus vectors so the rebuild comparison is non-synthetic
    val pool = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding")
      .orderBy("vec_id").limit(15).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val Seq(v1, v2, v3) = pool.grouped(5).toSeq
    // empty seed: the stream owns the whole corpus (the postings twin's
    // lit(false) build) — banding recorded, zero rows
    val d0 = java.nio.file.Files.createTempDirectory("streamann").toString
    graft.Tables.embeddings(spark, sfDir).limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$d0/seed/embeddings.parquet")
    AnnIndex.build(spark, s"$d0/seed", "stream_ann")

    def indexed(): Map[Long, Long] = {
      spark.catalog.refreshTable("stream_ann")
      spark.table("stream_ann").groupBy("vec_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Int, Seq[Float])]
    val vecs = input.toDF().toDF("vec_id", "ts", "label", "embedding")
    withRocksDB {
      val q = CurationChain.curatedVectorIndexed(vecs, "stream_ann").start()
      try {
        input.addData(v1.map(v => (v._1, T0, v._2, v._3)): _*)
        q.processAllAvailable()
        assert(indexed().keySet == v1.map(_._1).toSet,
          "after batch 1 the index must hold exactly batch 1's vectors")
        // batch 2 re-delivers batch 1's head — dedup must drop it
        input.addData((v2 :+ v1.head).map(v => (v._1, T0, v._2, v._3)): _*)
        q.processAllAvailable()
        input.addData(v3.map(v => (v._1, T0, v._2, v._3)): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    val counts = indexed()
    assert(counts.keySet == pool.map(_._1).toSet,
      "after batch 3 every streamed vector is indexed")
    assert(counts.values.forall(_ == 4L),
      s"a re-delivery double-appended signature rows: $counts")

    // row-for-row against the batch rebuild over the same vector set
    pool.toSeq.toDF("vec_id", "label", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$d0/all/embeddings.parquet")
    AnnIndex.build(spark, s"$d0/all", "stream_ann_rebuild")
    def rows(t: String) = {
      spark.catalog.refreshTable(t)
      spark.table(t)
        .select(col("vec_id"), col("label"), col("tbl"), col("sig"),
          col("nrm"), concat_ws(",", col("v").cast("array<string>")).as("vs"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3),
          r.getDouble(4), r.getString(5)))
        .sortBy(r => (r._1, r._3)).toSeq
    }
    assert(rows("stream_ann") == rows("stream_ann_rebuild"),
      "stream-grown ANN index diverges from the batch rebuild")
    // and the serving-path probe agrees end to end
    val anchors = graft.queries.Similarity.normedVectors(spark, sfDir)
      .filter(col("vec_id") < 3)
    val anchorRows = graft.queries.Similarity
      .signatureRowsOf(anchors, tables = 4, bits = 8)
    def probe(t: String) = AnnIndex.topKFor(spark, t, anchorRows, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    assert(probe("stream_ann") == probe("stream_ann_rebuild"),
      "probe over the stream-grown index diverges from the rebuild")
  }

  test("streaming IVF ingestion: batches assign against the FROZEN " +
      "centroid fit — probes see exactly the vectors ingested so far, a " +
      "re-delivery never double-appends, and the stream-grown cell store " +
      "equals the batch rebuild row-for-row") {
    import spark.implicits._
    import graft.sources.IvfIndex
    // seed = vec_id 0..7 (the centroid fit MUST pre-exist the stream —
    // IvfIndex's frozen-fit contract); stream 15 more in 3 batches
    val all = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding")
      .orderBy("vec_id").limit(23).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val (seed, streamed) = all.splitAt(8)
    val Seq(v1, v2, v3) = streamed.grouped(5).toSeq
    val d0 = java.nio.file.Files.createTempDirectory("streamivf").toString
    seed.toSeq.toDF("vec_id", "label", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$d0/seed/embeddings.parquet")
    IvfIndex.build(spark, s"$d0/seed", "stream_ivf")

    def indexed(): Map[Long, Long] = {
      spark.catalog.refreshTable("stream_ivf")
      spark.table("stream_ivf").groupBy("vec_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Int, Seq[Float])]
    val vecs = input.toDF().toDF("vec_id", "ts", "label", "embedding")
    withRocksDB {
      val q = CurationChain.curatedCellIndexed(vecs, "stream_ivf").start()
      try {
        input.addData(v1.map(v => (v._1, T0, v._2, v._3)): _*)
        q.processAllAvailable()
        assert(indexed().keySet == (seed ++ v1).map(_._1).toSet,
          "after batch 1 the store must hold the seed plus batch 1")
        // batch 2 re-delivers batch 1's head — dedup must drop it
        input.addData((v2 :+ v1.head).map(v => (v._1, T0, v._2, v._3)): _*)
        q.processAllAvailable()
        input.addData(v3.map(v => (v._1, T0, v._2, v._3)): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    val counts = indexed()
    assert(counts.keySet == all.map(_._1).toSet,
      "after batch 3 every vector is in its cell")
    assert(counts.values.forall(_ == 1L),
      s"a vector must live in exactly ONE cell (re-delivery double-append?): $counts")

    // row-for-row against the batch rebuild over the same vector set
    // (same first-8 centroids, so append≡rebuild holds by construction)
    all.toSeq.toDF("vec_id", "label", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$d0/all/embeddings.parquet")
    IvfIndex.build(spark, s"$d0/all", "stream_ivf_rebuild")
    def rows(t: String) = {
      spark.catalog.refreshTable(t)
      spark.table(t)
        .select(col("cell"), col("vec_id"), col("nrm"),
          concat_ws(",", col("v").cast("array<string>")).as("vs"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .sortBy(r => r._2).toSeq
    }
    assert(rows("stream_ivf") == rows("stream_ivf_rebuild"),
      "stream-grown cell store diverges from the batch rebuild")
    // and the serving-path probe agrees end to end
    val anchors = graft.queries.Similarity.normedVectors(spark, sfDir)
      .filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"))
    def probe(t: String) = IvfIndex.topKFor(spark, t, anchors, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    assert(probe("stream_ivf") == probe("stream_ivf_rebuild"),
      "probe over the stream-grown cell store diverges from the rebuild")
  }

  test("retrieval-verdict splice: a planted paraphrase sharing the " +
      "benchmark's rare terms (but no 8-gram run) is caught by the BM25 " +
      "splice and MISSED by the gram kernel") {
    import spark.implicits._
    val bmTerms = (0 until 12).map(i => s"bmr$i")
    // the paraphrase: half the benchmark's rare terms, each term
    // separated by its own filler so no 8 consecutive tokens match
    val para = (0 until 6).flatMap(i => Seq(bmTerms(i), s"own$i")).mkString(" ")
    val rows = Seq((1L, "sR", para)) ++
      (2L to 10L).map(i =>
        (i, "sR", (0 until 12).map(k => s"c${i}w$k").mkString(" ")))
    val bench = Seq((900L, bmTerms.mkString(" "))).toDF("doc_id", "text")

    // the gram kernel structurally misses it: zero shared 8-grams
    val gram = DecontamStream.verdictsBatch(
        rows.map(r => (r._1, r._3)).toDF("doc_id", "text"),
        DecontamStream.benchmarkGrams(spark, bench))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("contaminated")).toMap
    assert(!gram(1L), "grams must miss the paraphrase (no 8-token run)")

    val buf =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Boolean)]()
    withRocksDB {
      streamOf(Seq(rows)) { docs => push =>
        val q = CurationChain.curatedRetrievalVerdicts(docs, bench) { (df, _) =>
          buf.synchronized {
            buf ++= df.collect().map(r => (r.getAs[Long]("doc_id"),
              r.getAs[Long]("n_bench_hits"), r.getAs[Boolean]("flagged")))
          }
        }.start()
        push(); q.processAllAvailable(); q.stop()
      }
    }
    // every kept doc gets a verdict (all 10 fit the cap here)
    assert(buf.map(_._1).toSet == (1L to 10L).toSet)
    val byId = buf.map(b => b._1 -> b).toMap
    assert(byId(1L)._3 && byId(1L)._2 >= 1L,
      s"retrieval must flag the paraphrase: ${buf.toSeq}")
    assert(buf.filter(_._1 != 1L).forall(!_._3),
      s"term-disjoint docs never surface: ${buf.toSeq}")
  }
}
