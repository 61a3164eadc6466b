package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Similarity

/** PERSISTED ANN index — the build-once / query-many deployment of the
  * LSH family (q35/q125 recompute signatures per run; a production
  * vector store computes them at ingest and serves point queries):
  * [[build]] writes one signature row per (vector, table) as a table
  * BUCKETED BY `sig`, and [[topK]] probes it with the anchor
  * signatures as LITERALS, so Spark's bucket pruning skips every
  * bucket holding no probed signature — the scan reads
  * `SelectedBucketsCount: k out of N` (plan-visible, spec-pinned), not
  * the corpus. That is what makes it an INDEX rather than a cached
  * scan: query cost tracks the probed buckets' occupancy, the q35
  * candidate argument applied to I/O.
  *
  * Layout choices, stated: (a) `sig` is the bucket key (single-column,
  * because bucket pruning works on single-key `isin` predicates); the
  * (tbl, sig) correctness rendezvous is the broadcast join — the
  * pruning predicate is the IO filter, the join is the semantics.
  * (b) v and nrm are stored per signature row (×tables storage) so the
  * exact re-rank reads no second corpus table; at 100 TB the trade is
  * tables× the vector bytes for a self-contained single-scan probe —
  * the same trade FAISS-style IVF lists make (vectors live in the
  * list). (c) Anchor signatures collect to the driver (anchors are
  * query-scale by the q122/q125 contract — a point query carries its
  * own signatures, exactly like a vector-DB client).
  *
  * Re-rank parity: candidates are the identical (tbl, sig) collisions
  * lshTopK derives, deduped and re-ranked by the same compiled dot fold
  * and tie rule — [[topK]] output is spec-pinned EQUAL to
  * `Similarity.lshTopK` at the same banding. */
object AnnIndex {

  private val TablesProp = "graft.lsh.tables"
  private val BitsProp = "graft.lsh.bits"

  /** The ANN family: rows keyed by vec_id, bucketed by `sig`, identity =
    * the recorded banding. No derived state — a purge IS the whole
    * delete. */
  private[sources] val Family = StoreFamily("AnnIndex", "vec_id",
    "sig", Seq(TablesProp, BitsProp), "embeddings", _ => "ann")

  /** Compute signatures for every corpus vector and persist them
    * bucketed by `sig` in the session catalog (the [[Bucketing]]
    * warehouse rules apply: one write, every later probe prunes). The
    * banding is RECORDED as table properties so [[append]] can enforce
    * it — the banding is part of the index's physical identity, exactly
    * like the bucket count. */
  def build(spark: SparkSession, dir: String, table: String,
      tables: Int = 4, bits: Int = 8, buckets: Int = 16): Unit = {
    Bucketing.writeBucketed(
      Similarity.signatureRows(spark, dir, tables, bits),
      table, "sig", buckets)
    Bucketing.setProps(spark, table, Family.identityOf((tables, bits)))
  }

  /** Build-once memo for dir-derived indexes — the deployment shape the
    * registered q135 runs through ([[StoreFamily.ensureFor]]), with
    * (tables, bits, buckets) in the memo key AND the table name, so a
    * different banding can never be served a table built at another. */
  def ensureFor(spark: SparkSession, dir: String, tag: String,
      tables: Int = 4, bits: Int = 8, buckets: Int = 16): String =
    StoreFamily.ensureFor(Family, "ann", tag, dir, Seq(tables, bits, buckets))(
      t => build(spark, dir, t, tables, bits, buckets))

  /** The banding the table was built at — PUBLIC so a serving-path
    * caller signs its query vectors with the RECORDED banding
    * (Similarity.signatureRowsOf(queries, tables, bits)) instead of a
    * hardcoded one: after a [[reband]] a caller still signing at the
    * old banding would probe signatures that never collide — the silent
    * recall loss the append require() guards, closed on the query side
    * by reading the truth from the catalog. */
  def recordedBanding(spark: SparkSession, table: String): (Int, Int) =
    bandingOf(StoreFamily.recorded(Family, spark, table))

  /** RE-BAND maintenance — the ANN analog of IvfIndex.refit, for the
    * banding-transition rule instead of fit drift:
    * [[Similarity.adaptiveBanding]] sizes (tables, bits) to the corpus
    * (8×4 at the test corpora, 16×6 past ~590 k vectors — the measured
    * transition, SCALING.md round 15), so a store that grew past its
    * built banding probes at the wrong occupancy. Every store row
    * carries `v` (the self-contained-scan trade), so rebanding needs NO
    * corpus re-read: one [[StoreFamily.rewrite]] re-signs the store's
    * live vectors at the new banding and swaps rows AND the recorded
    * banding in the same table — no torn-state window. Spec: reband ==
    * fresh build at the new banding, bit-for-bit, with rows another
    * session committed included. */
  def reband(spark: SparkSession, table: String,
      tables: Int, bits: Int): Unit = {
    StoreFamily.open(Family, spark, table)
    // one row per vector: every vector owns a row in table 0
    StoreFamily.rewrite(spark, table,
        props = Family.identityOf((tables, bits))) { live =>
      Similarity.signatureRowsOf(live.filter(col("tbl") === 0)
        .select("vec_id", "label", "v", "nrm"), tables, bits)
    }
  }

  /** DELETE vectors from the store — [[StoreFamily.delete]]; the
    * signature-row layout keeps no derived statistics, so the purge is
    * the whole operation. `vecIds` is any one-column frame of vec ids. */
  def delete(spark: SparkSession, table: String, vecIds: DataFrame): Unit =
    StoreFamily.delete(Family, spark, table, vecIds)

  /** DEFERRED delete — [[StoreFamily.deleteDeferred]] on the vector
    * family; the tombstone append is the whole operation. */
  def deleteDeferred(spark: SparkSession, table: String,
      vecIds: DataFrame): Unit =
    StoreFamily.deleteDeferred(Family, spark, table, vecIds)

  /** UPSERT/re-crawl — [[StoreFamily.reindex]]: the SAME vec_ids arrive
    * with CHANGED embeddings; the batch re-signs at the RECORDED banding
    * and replaces the old signature rows in one staged rewrite. */
  def reindexVectors(table: String, embeddings: DataFrame): Unit = {
    val spark = embeddings.sparkSession
    val (tables, bits) = bandingOf(StoreFamily.open(Family, spark, table))
    val normed = Similarity.normedVectorsOf(spark, embeddings)
      .localCheckpoint(true)
    StoreFamily.reindex(Family, spark, table, normed.select("vec_id"),
      Similarity.signatureRowsOf(normed, tables, bits))
  }

  private def bandingOf(p: Map[String, String]): (Int, Int) =
    (p(TablesProp).toInt, p(BitsProp).toInt)

  /** Incremental maintenance — the ingest path: compute signatures for a
    * NEW batch of vectors and append them bucket-aligned
    * ([[Bucketing.insertAligned]]; datasource bucketed tables bucket on
    * insert, so probes keep pruning over the union with no rebuild). The
    * batch's (tables, bits) are CHECKED against the build's recorded
    * properties — signatures from a different banding would silently
    * never collide, a recall loss with no error, so a mismatch fails
    * here instead. Remaining caller contract: the new vec_ids are
    * disjoint from the indexed set (the q81/q126 ingest gate runs
    * upstream of indexing — pinned end-to-end by IngestIndexSpec). */
  def append(spark: SparkSession, dir: String, table: String,
      tables: Int = 4, bits: Int = 8): Unit =
    appendVectors(table, graft.Tables.embeddings(spark, dir), tables, bits)

  /** [[append]] over an (vec_id, label, embedding) FRAME — the form a
    * streaming vector-ingestion path uses (the PostingsIndex.appendDocs
    * twin): sign the batch with the table's banding and insert
    * bucketed. The session derives from the frame (the appendDocs
    * rule). Same banding require() and disjoint-ids contract as the
    * dir-based entry. */
  def appendVectors(table: String, embeddings: DataFrame,
      tables: Int = 4, bits: Int = 8): Unit = {
    val spark = embeddings.sparkSession
    val built = recordedBanding(spark, table)
    require(built == ((tables, bits)),
      s"$table was built at banding $built but append was asked for " +
        s"(${tables}, ${bits}) — mismatched signatures never collide")
    Bucketing.insertAligned(spark, table, Similarity.signatureRowsOf(
      Similarity.normedVectorsOf(spark, embeddings), tables, bits))
  }

  /** Top-k nearest (exact re-rank over bucket-pruned candidates) for the
    * anchor set `vec_id < nAnchors` of the INDEXED corpus itself —
    * mirroring lshTopK's more-like-this anchor convention. SELF-PROBE
    * CONVENIENCE: deriving the anchors from the index means one
    * UN-pruned scan of the index (the table is bucketed by sig, so a
    * vec_id predicate prunes nothing) to fetch them before the pruned
    * candidate scan — fine for specs and more-like-this batch jobs,
    * wrong for a serving path. A point-query caller holds its anchor
    * signature rows already (the vector-DB-client model: a query carries
    * its own signatures) and calls [[topKFor]] directly, which scans the
    * index exactly once, pruned. */
  def topK(spark: SparkSession, table: String, nAnchors: Int,
      k: Int): DataFrame = {
    // guard + refresh BEFORE resolving the anchor scan: topKFor's own
    // refresh runs after this spark.table call has captured a file
    // listing, and a stale anchor side against a fresh candidate side
    // would make the self-probe inconsistent under concurrent appends
    StoreFamily.open(Family, spark, table)
    // LIVE anchors only: a tombstoned vector must not probe on behalf
    // of the more-like-this batch (the candidate side subtracts in
    // probeCore; the anchor side subtracts here)
    topKFor(spark, table,
      Bucketing.liveRows(spark, table, "vec_id")
        .filter(col("vec_id") < nAnchors), k)
  }

  /** The serving-path probe: `anchors` are the query's OWN signature
    * rows in [[Similarity.signatureRows]] layout (vec_id, tbl, sig, v,
    * nrm) — one row per (query, table), computed at query time by the
    * caller ([[Similarity.signatureRowsOf]] over the query vectors),
    * never read from the index. The index is scanned ONCE, bucket-pruned
    * by the anchors' signature literals.
    * `signedAt` is the banding the caller signed `anchorRows` at (the
    * [[recordedBanding]] it read): when passed, the probe RE-CHECKS it
    * against the catalog after the anchor side executes
    * ([[StoreFamily.requireStable]]): a [[reband]] landing between the
    * caller's banding read and the probe would otherwise make the
    * old-banding signatures collide with NOTHING. */
  def topKFor(spark: SparkSession, table: String, anchorRows: DataFrame,
      k: Int, signedAt: Option[(Int, Int)] = None,
      sorted: Boolean = true): DataFrame =
    probeCore(spark, table, anchorRows, k, crossLabel = false, signedAt,
      sorted)

  /** The CROSS-LABEL serving probe — q125's hard-negative semantics
    * over the persisted store (the training-data shape: for each
    * anchor, the most-similar items under a DIFFERENT label are the
    * informative negatives — ANCE/DPR, public papers, q122's scaladoc).
    * Identical to [[topKFor]] except the label filter rides IN the
    * candidate join — same-label pairs die at the bucket probe before
    * any cosine, q125's rule, and the store ALREADY carries the label
    * on every signature row (build persists signatureRows whole) — and
    * both labels ride out so the pair table feeds a training loader
    * directly. `anchorRows` carry signatureRowsOf's full layout
    * (vec_id, label, tbl, sig, v, nrm); sign them at
    * [[recordedBanding]], never a hardcoded pair. */
  def hardNegativesFor(spark: SparkSession, table: String,
      anchorRows: DataFrame, k: Int,
      signedAt: Option[(Int, Int)] = None): DataFrame =
    probeCore(spark, table, anchorRows, k, crossLabel = true, signedAt)

  /** The ONE probe chain both serving entries share (refresh, anchor
    * checkpoint, driver sig collect, isin pruning, broadcast rendezvous,
    * pair dedup, rank) — the label predicate and its two output columns
    * are the only fork, so a fix to the shared contract (the refresh
    * rule, the dedup rule, the pruning predicate) can never apply to
    * one entry and silently miss the other.
    *
    * Broadcast shape (round-18 advice applied): the rendezvous
    * broadcasts only the SLIM probe keys (query_id[, label], tbl, sig)
    * — a multi-probe-expanded anchor set carries (bits+1) rows per
    * (query, table), and shipping qv/qnrm on every expanded row grew
    * the broadcast and the driver collect ~9× at 4×8 banding for a
    * payload that is identical across a query's rows. The query payload
    * joins back as ONE broadcast row per query (no exchange); the
    * neighbor payload still rides the index scan row (the
    * self-contained-single-scan trade); and the pair dedup stays the
    * narrow groupBy/max — keys plus one cosine double through the
    * exchange with map-side partial max, never the 64-double vector per
    * colliding row. Same fold on the same vectors → identical values,
    * identical tie rule → every output bit-equal to the pre-slim
    * spelling. */
  private def probeCore(spark: SparkSession, table: String,
      anchorRows: DataFrame, k: Int, crossLabel: Boolean,
      signedAt: Option[(Int, Int)] = None,
      sorted: Boolean = true): DataFrame = {
    StoreFamily.open(Family, spark, table)
    // materialize the anchor rows ONCE (they are query-scale by the
    // q122/q125 contract): the consumers below — the driver-side
    // signature collect, the slim broadcast, the payload broadcast —
    // would otherwise re-execute the caller's whole anchor pipeline
    // (topK's index scan, or a client's read→norm→sign chain)
    val anchors = anchorRows
      .select(Seq(col("vec_id").as("query_id")) ++
        (if (crossLabel) Seq(col("label").as("query_label")) else Nil) ++
        Seq(col("tbl").as("qtbl"), col("sig").as("qsig"),
          col("v").as("qv"), col("nrm").as("qnrm")): _*)
      .localCheckpoint(true)
    // SINGLE-PARTITION anchor derivations (round 21, guide §2.4): the
    // slim-key distinct, the payload dedup and the driver signature
    // collect each planned their own 32-partition hash exchange over a
    // frame that is query-scale by contract — three shuffles (and
    // 3 × cpus scheduled tasks) whose only job was deduplicating a few
    // hundred rows. coalesce(1) over the checkpointed anchor RDD is a
    // narrow merge, and a one-partition child satisfies every clustering
    // requirement, so all three aggregations now plan exchange-FREE.
    // Same rows either way (distinct/dropDuplicates semantics are
    // partitioning-independent; payload rows are identical per query by
    // construction, so any representative is the same value).
    val one = anchors.coalesce(1)
    val slim = one
      .select(Seq(col("query_id")) ++
        (if (crossLabel) Seq(col("query_label")) else Nil) ++
        Seq(col("qtbl"), col("qsig")): _*)
      .distinct()
    val payload = one.select("query_id", "qv", "qnrm")
      .dropDuplicates("query_id")
    // anchor signatures collect to the driver for the pruning predicate
    val probeSigs = slim.select("qsig").distinct()
      .collect().map(_.getString(0)).toSeq
    // the anchor side has EXECUTED (checkpoint + collect above) — the
    // caller's signing pipeline included. Refuse a reband that landed
    // since the caller read the banding it signed at: the old-banding
    // signatures would collide with nothing (silent-empty, where the
    // contract promises loud-retry). The residual window past this
    // check fails loud on its own (the swap deletes the old files).
    signedAt.foreach(StoreFamily.requireStable(table, _,
      recordedBanding(spark, table)))
    val baseCond = col("tbl") === col("qtbl") && col("sig") === col("qsig") &&
      col("vec_id") =!= col("query_id")
    val cond =
      if (crossLabel) baseCond && col("label") =!= col("query_label")
      else baseCond
    val outKeys =
      if (crossLabel) Seq(col("query_id"), col("query_label"),
        col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"))
      else Seq(col("query_id"), col("vec_id").as("neighbor_id"))
    val keyNames =
      if (crossLabel)
        Seq("query_id", "query_label", "neighbor_id", "neighbor_label")
      else Seq("query_id", "neighbor_id")
    // ONE index scan: bucket-pruned by the literal signature set, hash-
    // probed against the broadcast slim keys on the (tbl, sig)
    // rendezvous; the query payload joins back BROADCAST (no exchange)
    // and the cosine computes BEFORE the pair dedup, so the dedup
    // exchange carries the pair keys plus ONE double with a map-side
    // partial max — not the 64-double neighbor vector per colliding row
    // (the dropDuplicates first spelling shuffled ~30× the bytes on the
    // probe hot path, and multi-probe multiplies collisions). Colliding
    // (query, neighbor) pairs from multiple tables/probes carry the
    // identical cosine; max() is the deterministic dedup.
    val cos = Similarity.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // bucket pruning HERE: anchors are query-scale by contract, so the
    // signatures always ship as the literal
    StoreFamily.probeScan(Family, spark, table, Some(probeSigs))
      .join(broadcast(slim), cond)
      .select(outKeys :+ col("v") :+ col("nrm"): _*)
      .join(broadcast(payload), Seq("query_id"))
      .select(keyNames.map(col) :+ cos.as("cosine"): _*)
      // ONE exchange for the dedup+rank tail (round-20, guide §2.4):
      // query_id-only hash partitioning satisfies both the pair-dedup
      // groupBy's clustering and the rank window's, replacing the two
      // planner exchanges with one; explicit count pins it against AQE
      // byte-coalescing. Anchor sets are query-scale by contract, and
      // the window already required a query's rows co-located.
      .repartition(spark.sparkContext.defaultParallelism, col("query_id"))
      .groupBy(keyNames.map(col): _*)
      .agg(max("cosine").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      // `sorted = false` (round 21, guide §2.4): a COMPOSING caller —
      // q136's RRF fusion, which unions this frame and re-aggregates by
      // query_id — pays a full range-partitioning Sort exchange here for
      // an order the union immediately destroys. Registered probe rows
      // (q135/q146/q147) keep the sorted output; same rows either way.
      .transform(df => if (sorted) df.orderBy("query_id", "rank") else df)
  }
}
