package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.plans.GraftExtensions.kernel

/** Streaming benchmark DECONTAMINATION — the stream-side twin of batch
  * q29 (and of the q124 composite's stage 5): documents arriving on a
  * stream are checked for 8-token n-gram overlap against a STATIC
  * held-out benchmark table, and each document emits one verdict row
  * (doc_id, n_shared, contaminated). Completes the curation run's
  * streaming coverage: the fuzzy sweep (DedupStream), domain quotas
  * (QuotaStream), packing (PackStream), mixing (MixStream) and temporal
  * enrichment (AsOfStream) had twins; the decontamination gate now does
  * too.
  *
  * STATELESS BY CONSTRUCTION — the property that makes this operator
  * trivially exact on a stream where the other twins need
  * flatMapGroupsWithState: a document's grams all live in its own row
  * and the benchmark is sealed, so the verdict depends only on (that
  * document, the benchmark) — never on other stream rows, arrival
  * order, or micro-batch slicing. It runs in the MixStream foreachBatch
  * shape (the per-doc gram explode + re-group is an aggregation, which
  * append-mode streaming would force into watermarked state it does not
  * need — inside foreachBatch it is plain batch code with zero
  * cross-batch state), and verdict parity with batch q29 is spec-pinned
  * including micro-batch-slicing invariance. No state also means no
  * state-schema version envelope: a checkpoint carries only source
  * offsets, which any engine version can resume.
  *
  * Scale shape: the benchmark is a real eval set (10³–10⁵ docs of
  * grams), materialized ONCE ([[benchmarkGrams]] checkpoints eagerly)
  * and joined per batch; the join carries NO broadcast hint — batch
  * q29's documented stance: a forced broadcast grows with the benchmark
  * and breaks past the broadcast limit, while AQE sees the materialized
  * side's true size and broadcasts exactly when it is actually small.
  * The only stream shuffle is the batch-local doc_id rendezvous (dedupe
  * + regroup share one exchange). Docs under 8 tokens cannot form a
  * gram and are clean by definition — word_shingles yields an empty
  * array, explode_outer keeps the doc's verdict row.
  *
  * Delivery semantics: duplicate deliveries of a document WITHIN a
  * micro-batch collapse (dropDuplicates on doc_id before the gram
  * explode), so n_shared never double-counts; a re-delivery in a LATER
  * batch re-emits the SAME verdict (the verdict value is a pure
  * function of (text, benchmark) — delivery-invariant, spec-pinned),
  * so sinks dedupe by doc_id or run the exact-dedup stage
  * (EventsStream.dedupe) upstream — the same note DedupStream carries.
  *
  * OUTPUT GRAIN vs batch q29: q29 emits one row per (doc, benchmark
  * DOC) pair whose `n_shared` counts grams shared with THAT benchmark
  * document; this stream emits ONE row per corpus doc whose `n_shared`
  * counts the doc's distinct grams found anywhere in the sealed
  * benchmark. The contaminated SET is identical (spec-pinned), but the
  * two `n_shared` columns live at different grains and are NOT
  * numerically comparable — do not diff them row-for-row. */
object DecontamStream {

  /** Distinct 8-grams of a static benchmark frame (doc_id, text) —
    * MATERIALIZED here (eager localCheckpoint, the q29 pattern) so every
    * micro-batch joins the computed frame instead of re-running the
    * benchmark scan + shingle + distinct for the life of the stream. */
  def benchmarkGrams(spark: org.apache.spark.sql.SparkSession,
      bench: DataFrame): DataFrame =
    graft.queries.Dedup.gram8On(spark, bench)
      .select("gram").distinct()
      .localCheckpoint(true)

  /** Batch kernel: (doc_id, text) rows → one verdict row per document.
    * Used per micro-batch by [[writer]] and directly by batch callers /
    * the parity spec.
    *
    * `benchGrams` is re-distinct'd on `gram` here defensively: n_shared
    * counts each doc-gram at most once ONLY when the benchmark side is
    * gram-unique, and this entry point is public for direct batch
    * callers who may not have gone through [[benchmarkGrams]]. The
    * distinct is a no-op exchange-wise when the input already is
    * ([[benchmarkGrams]] output is both distinct and materialized). */
  def verdictsBatch(docs: DataFrame, benchGrams: DataFrame): DataFrame =
    docs
      // collapse same-batch duplicate deliveries; the doc_id exchange is
      // reused by the verdict regroup below (one stream shuffle total)
      .dropDuplicates("doc_id")
      // word_shingles yields [] below 8 tokens; explode_outer keeps the
      // doc as a NULL-gram row so short docs still get a clean verdict
      .select(col("doc_id"),
        explode_outer(kernel("word_shingles", col("text"), lit(8))).as("gram"))
      .join(benchGrams.select("gram").distinct().withColumn("hit", lit(1)),
        Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(col("hit")).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)

  /** (doc_id, text) stream → per-batch verdict frames delivered to
    * `emit` (the MixStream writer shape).
    *
    * The per-batch gram-distinct stays IN the batch kernel by
    * MEASUREMENT: round 16 built the advice-suggested hoisted variant
    * (distinct+checkpoint once per stream) and timed both repeatedly
    * at StreamThroughputProbe's decontam workload — isolated fresh-JVM
    * runs land within ~5% of each other (142 k vs 150 k rec/s min-of-6),
    * inside the harness's section-order JIT bias, which a naive same-JVM
    * comparison mis-read as 13% both ways depending on which section ran
    * second. With no real
    * throughput difference, the per-batch spelling wins on design: one
    * entry point that is correct for ANY caller's benchmark frame, and
    * no second materialized gram-set copy in the block store. The
    * distinct is an aggregate over an already-distinct bounded set —
    * batch-local and benchmark-sized, never corpus-sized. SCALING.md
    * round 16 records the full comparison. */
  def writer(docs: DataFrame, benchGrams: DataFrame)(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      emit(verdictsBatch(batch, benchGrams), batchId)
    }
}
