package graft.streaming

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming MinHash near-dup: parity with the batch q30 path when the
  * corpus arrives incrementally. */
class DedupStreamSpec extends SparkSpec {

  test("streamed candidates cover every batch-verified near-dup pair across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq

    val input = MemoryStream[(Long, String)]
    val query = DedupStream
      .nearDupCandidates(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append")
      .start()

    // two micro-batches: near-dup pairs that STRADDLE the split only
    // surface if bucket state persists across batches
    val (first, second) = docs.partition(_._1 % 2 == 0)
    input.addData(first: _*)
    query.processAllAvailable()
    input.addData(second: _*)
    query.processAllAvailable()

    val streamed = spark.table("neardup_stream")
      .select("doc_a", "doc_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // batch q30 = banding + EXACT jaccard >= 0.5 verification; streaming
    // emits estimate-filtered candidates from the same banding, so every
    // batch pair must appear (true pairs here are j > 0.9 => est 11-12/12)
    val batch = SparkEntry.queries("q30_minhash_lsh_dedup")(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.subsetOf(streamed), s"streaming missed: ${batch -- streamed}")

    // emitted pairs are ordered and estimates are valid MinHash fractions
    spark.table("neardup_stream").collect().foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val e = r.getAs[Double]("est_jaccard")
      assert(e >= 0.5 && e <= 1.0)
    }
    query.stop()
  }

  test("the stream's band rows are the batch LSH band rows") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val streamed = DedupStream.bandRows(DedupStream.signatures(docs))
      .select("band", "bucket", "doc_id").as[(Int, String, Long)].collect().sorted
    val batch = graft.queries.Dedup.bandRowsOn(spark, docs)
      .select("band", "sig", "doc_id").as[(Int, String, Long)].collect().sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("re-delivered documents within the cap do not re-emit pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val near = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"))

    val input = MemoryStream[(Long, String)]
    val query = DedupStream
      .nearDupCandidates(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_redeliver")
      .outputMode("append")
      .start()

    input.addData(near: _*)
    query.processAllAvailable()
    val afterFirst = spark.table("neardup_redeliver").count()
    assert(afterFirst > 0)

    // same docs again: both were stored, so per-bucket doc_id dedup
    // suppresses re-emission
    input.addData(near: _*)
    query.processAllAvailable()
    assert(spark.table("neardup_redeliver").count() == afterFirst)
    query.stop()
  }

  test("re-delivered BEYOND-CAP documents do not re-emit pairs (overflow Bloom)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, String)]
    val query = DedupStream
      .nearDupCandidates(input.toDF().toDF("doc_id", "text"), maxPerBucket = 1)
      .writeStream.format("memory").queryName("neardup_cap_redeliver")
      .outputMode("append")
      .start()

    // identical text => identical signatures => every band bucket shared,
    // so collisions (and hence emissions) are deterministic, not
    // minhash-probabilistic. doc 1 fills the cap=1 bucket; doc 2
    // overflows (emits (1,2), not stored).
    val text = "alpha beta gamma delta epsilon zeta"
    input.addData((1L, text), (2L, text))
    query.processAllAvailable()
    val afterFirst = spark.table("neardup_cap_redeliver").count()
    assert(afterFirst > 0)

    // re-deliver the OVERFLOW doc: round-6..8 behavior re-emitted (1,2);
    // the per-bucket overflow Bloom must now recognize and drop it
    input.addData((2L, text))
    query.processAllAvailable()
    assert(spark.table("neardup_cap_redeliver").count() == afterFirst,
      "beyond-cap re-delivery re-emitted its pairs")

    // a genuinely NEW overflow doc still emits against the stored set
    input.addData((3L, text))
    query.processAllAvailable()
    val rows = spark.table("neardup_cap_redeliver")
      .select("doc_a", "doc_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.contains((1L, 3L)), "new overflow doc must still emit")
    assert(!rows.contains((2L, 3L)), "overflow doc 2 must not have been stored")
    query.stop()
  }

  test("bucket occupancy cap: overflow docs emit against the stored set but are not stored") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, String)]
    val query = DedupStream
      .nearDupCandidates(input.toDF().toDF("doc_id", "text"), maxPerBucket = 1)
      .writeStream.format("memory").queryName("neardup_cap")
      .outputMode("append")
      .start()

    input.addData(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"))
    query.processAllAvailable()
    // cap=1: doc 2 was compared against stored doc 1 but NOT added, so a
    // third near-dup still pairs only with the stored one
    input.addData((3L, "alpha beta gamma delta epsilon theta"))
    query.processAllAvailable()
    val rows = spark.table("neardup_cap")
      .select("doc_a", "doc_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.contains((1L, 2L)))
    assert(!rows.contains((2L, 3L)), "capped bucket must not have stored doc 2")
    query.stop()
  }

  test("restoring a v1 state blob fails with the engine's message, not a decode trace") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // a checkpoint written before the version envelope restores as
    // version=1 — the transition must reject it by name, telling the
    // operator to start a new checkpoint directory
    val v1 = DedupStream.BucketState(1, List((7L, Seq.fill(12)("s"))), null)
    val restored = TestGroupState.create[DedupStream.BucketState](
      org.apache.spark.api.java.Optional.of(v1), GroupStateTimeout.NoTimeout,
      0L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val arrival = DedupStream.BandRow(0, "bkt", 8L, Seq.fill(12)("s"))
    val e = intercept[IllegalStateException] {
      DedupStream.processBucket(6, 64)((0, "bkt"), Iterator(arrival), restored)
    }
    assert(e.getMessage.contains("schema v1"), e.getMessage)
    assert(e.getMessage.contains("new checkpoint directory"), e.getMessage)

    // a current-version state restores and processes normally
    val v2 = DedupStream.BucketState(DedupStream.StateVersion,
      List((7L, Seq.fill(12)("s"))), null)
    val ok = TestGroupState.create[DedupStream.BucketState](
      org.apache.spark.api.java.Optional.of(v2), GroupStateTimeout.NoTimeout,
      0L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out = DedupStream.processBucket(6, 64)((0, "bkt"), Iterator(arrival), ok).toSeq
    assert(out == Seq(DedupStream.Candidate(7L, 8L, 1.0)))
    assert(ok.get.version == DedupStream.StateVersion)
  }
}
