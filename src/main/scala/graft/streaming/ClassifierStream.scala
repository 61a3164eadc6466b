package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming quality-classifier SCORING — the deployment half of q131's
  * training (train batch, score stream: the production shape of the
  * GPT-3/CCNet quality filter — the model retrains offline per crawl,
  * the filter runs on the ingest stream).
  *
  * STATELESS AND SHUFFLE-FREE BY CONSTRUCTION, one step beyond
  * DecontamStream's statelessness: the trained 256 bucket weights embed
  * as a LITERAL array in a fused per-row expression — bigram the token
  * array with `zip_with`, hash each bigram to its bucket, fold
  * `element_at(weights, bucket)` with `aggregate` — so scoring is a
  * narrow map with no join, no aggregation, and therefore no state, no
  * watermark, and no foreachBatch: [[verdicts]] applies to a streaming
  * frame directly and runs plan-native in append mode behind any sink
  * (composable into CurationChain as another stateless stage). This is
  * the q86 fused-scoring shape with q131's TRAINED weights in place of
  * q86's hash-derived ones.
  *
  * Margin parity with batch q131 is exact and spec-pinned: q131 scores
  * Σ_buckets n_b·w[b] over the aggregated feature table, this expression
  * folds w[bucket(bigram)] per occurrence — the same integer sum in a
  * different association order, exact because integer addition is
  * associative (the float-fold ordering discipline is NOT needed here;
  * that is what all-integer weights buy). Docs under 2 tokens — which
  * q131 drops from TRAINING (no features) — still score here: zero
  * bigrams folds to margin 0, predicted −1 by the zero-margin tie rule,
  * matching round 1's class-prior semantics.
  *
  * Delivery semantics: the verdict is a pure function of (text,
  * weights), so duplicate deliveries re-emit identical rows —
  * delivery-invariant like DecontamStream, sinks dedupe by doc_id if
  * exactly-once matters.
  *
  * 100 TB shape: weights are 256 longs constant-folded into the codegen
  * plan — nothing is broadcast, nothing shuffles, throughput is the scan
  * rate. Measured (SCALING.md round 16): 560 k rec/s on a 32-partition
  * batch frame — the operator's own rate; the StreamThroughputProbe
  * `classifier` section reads 45 k rec/s through MemoryStream, which
  * measures that source's few-partition delivery, not the map.
  * Retraining swaps the literal by restarting the query (the standard
  * stream-config rollover; checkpoints carry only source offsets
  * because there is no state) — spec-pinned: ClassifierStreamSpec's
  * rollover case restarts on the same checkpoint with new weights and
  * shows offsets resume (no re-delivery) while the new margins apply
  * from the first post-restart batch. */
object ClassifierStream {

  /** The fused margin expression over a `text` column: Σ over adjacent
    * token pairs of weights[md5-bucket(bigram)]. Same tokenization
    * (split on ' '), same bigram key (concat_ws " "), same bucket (first
    * two md5 hex chars) as q131's feature table. */
  def marginCol(weights: Array[Long], text: Column): Column = {
    require(weights.length == 256, s"expected 256 bucket weights, got ${weights.length}")
    val toks = split(text, " ")
    val buckets = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => conv(substring(md5(concat_ws(" ", a, b)), 1, 2), 16, 10)
        .cast("long"))
    aggregate(buckets, lit(0L),
      (acc, bkt) => acc + element_at(typedLit(weights), (bkt + 1).cast("int")))
  }

  /** (doc_id, text) frame — batch OR streaming — → (doc_id, margin,
    * predicted). A narrow map: valid in plan-native append mode. */
  def verdicts(docs: DataFrame, weights: Array[Long]): DataFrame =
    docs.select(col("doc_id"),
      marginCol(weights, col("text")).as("margin"))
      .withColumn("predicted",
        when(col("margin") > 0, 1L).otherwise(-1L))
}
