package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Retrieval

/** PERSISTED LEXICAL (postings) index — the BM25 twin of [[AnnIndex]],
  * closing the engine's build-once/probe-many symmetry: the recompute
  * path (Retrieval.bm25RankedWhere) re-derives the postings slice
  * (tokenize → explode → aggregate → checkpoint, the measured ~1.5 s
  * fixed cost of every q127/q133 run — Retrieval.scala's barrier note)
  * on EVERY query, which is the wrong shape for recurring retrieval
  * against a growing corpus (q133's production decontam: fixed
  * benchmark, new crawl every day). [[build]] pays the full tokenize +
  * (term, doc) aggregation ONCE and persists (term, doc_id, dl, tf)
  * BUCKETED BY `term`; [[topKFor]] probes it with the query vocabulary
  * as literals, so Spark's bucket pruning skips every bucket holding no
  * query term — the scan reads `SelectedBucketsCount: k out of N`
  * (plan-visible, spec-pinned), never the corpus.
  *
  * Layout choices, stated: (a) `term` is the bucket key — the probe
  * predicate is a single-key `isin` over the query vocabulary, the same
  * pruning contract as AnnIndex's `sig`. Term frequency is Zipf-skewed,
  * so buckets are UNEVEN (the head term's bucket is hot); that skews
  * probe I/O, not correctness, and the scale lever is the bucket count
  * (hash spreads head terms across more, smaller buckets) — pruning
  * effectiveness depends on |query vocab| / |buckets hit|, not bucket
  * uniformity. (b) `dl` rides every posting row (×terms-per-doc
  * storage) so scoring reads no second document-length table — the same
  * self-contained-single-scan trade AnnIndex makes storing v/nrm per
  * signature row. (c) Collection stats (n_docs, sum_dl) are TABLE
  * PROPERTIES — they are metadata-class one-row aggregates in the
  * recompute plan, and the catalog is exactly where a production engine
  * keeps them; [[append]] updates them transactionally with the rows it
  * inserts, which is what keeps append≡rebuild bit-exact. (d) Per-term
  * DOCUMENT FREQUENCY persists as a COMPANION table `<table>_df`
  * (term, df), bucketed by term like the postings — the stats-fold
  * pattern applied to the one collection statistic a probe otherwise
  * recomputes from the slice on every query. It cannot be a property
  * (it is vocabulary-sized, not one row), so the fold is realized as
  * APPEND-ONLY DELTAS: [[build]] writes one total row per term,
  * [[appendDocs]] appends the batch's per-term counts, and the probe
  * sums the pruned delta rows — exact integer arithmetic, so the fold
  * commutes with the rebuild ([[compact]] collapses the deltas back to
  * one row per term when maintenance runs).
  *
  * Scoring parity: the probe feeds the pruned slice into the SAME
  * scoring tail as the recompute path ([[Retrieval.scoreTail]]: idf
  * from the handed-in df frame via DetMath on the per-term frame,
  * once-per-posting contribution, ordered fold, top-k) — identical IEEE
  * arithmetic on identical inputs (df is the same integer whether
  * summed from deltas or counted from the slice), so [[topKFor]] output
  * is spec-pinned EQUAL to `bm25RankedWhere` at the same corpus
  * (PostingsIndexSpec, the AnnIndexSpec parity pattern), and q134 runs
  * it against q133's own DuckDB oracle.
  */
object PostingsIndex {

  private val NDocsProp = "graft.bm25.n_docs"
  private val SumDlProp = "graft.bm25.sum_dl"

  /** The df companion's name — derived, never chosen: every build/append/
    * compact/refresh path addresses the pair through this one rule. */
  private[sources] def dfTableOf(table: String): String = s"${table}_df"

  /** The postings family: rows keyed by doc_id, bucketed by `term`,
    * identity = the recorded collection stats, derived state = the df
    * companion and those stats ([[fold]]). */
  private[sources] val Family = StoreFamily("PostingsIndex", "doc_id",
    "term", Seq(NDocsProp, SumDlProp), "documents", _ => "postings",
    companions = t => Seq(dfTableOf(t)), derived = Some(fold))

  /** Tokenize the corpus docs of `dir` (restricted to `corpusPred`),
    * aggregate (term, doc_id, dl, tf), persist bucketed by `term`, write
    * the (term, df) companion, and record the collection stats as table
    * properties. One full-corpus shuffle on the term key — the one-time
    * cost every later probe amortizes; the df companion derives from the
    * just-written postings table (a narrow re-read of the compact index,
    * not a second tokenize). */
  def build(spark: SparkSession, dir: String, table: String,
      corpusPred: Column = lit(true), buckets: Int = 64): Unit = {
    val toks = Retrieval.tokenizedDocs(spark, dir).filter(corpusPred)
    Bucketing.writeBucketed(postingsOf(toks), table, "term", buckets)
    Bucketing.writeBucketed(dfOf(spark.table(table)),
      dfTableOf(table), "term", buckets)
    writeStats(spark, table, collectionStats(toks), None)
  }

  /** Incremental maintenance — the ingest path: tokenize a NEW batch of
    * documents ONCE (the batch's token arrays checkpoint so the insert
    * and the stats aggregate share one scan — batches are epoch-sized,
    * so materializing them is cheap, unlike [[build]]'s corpus where the
    * two-pass C4 rule applies), append their postings honoring the
    * table's bucket spec (datasource bucketed tables bucket on insert,
    * so probes keep pruning over the union with no rebuild), append the
    * batch's per-term df DELTAS to the companion, and FOLD the batch's
    * (n_docs, sum_dl) into the recorded collection stats — stale stats
    * would silently mis-weight every idf/avgdl, so the stats update
    * rides in the same driver call as the insert, not a caller chore.
    * Honesty about the failure window: the two inserts and the property
    * write are three catalog operations, not one transaction — a crash
    * between them leaves the new rows in with old stats/df, and
    * concurrent appends can lose a fold (last property write wins).
    * Appends are SINGLE-WRITER by contract, like the bucketed table
    * itself; after a suspected partial append, [[refreshStats]]
    * recomputes the properties AND the df companion from the postings
    * table. Caller contract: the new doc_ids are disjoint from the
    * indexed set (the q81/q126 ingest gate runs upstream — pinned
    * end-to-end by IngestIndexSpec). insertInto is POSITIONAL; build and
    * append both emit [[postingsOf]]'s column order. */
  def append(spark: SparkSession, dir: String, table: String,
      pred: Column = lit(true)): Unit =
    appendDocs(table,
      graft.Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .filter(pred).select(col("doc_id"), col("text")))

  /** [[append]] over a (doc_id, text) FRAME — the form the streaming
    * ingestion path uses (CurationChain.curatedIndexed appends each
    * micro-batch's kept documents). The session derives from the frame
    * (a split insert-session/stats-session would only be correct by the
    * accident of a shared catalog). Same single-tokenize-pass shape,
    * the same [[Retrieval.tokenizedDocsOf]] tokenizer as build, and the
    * same stats fold / single-writer contract as the dir-based entry.
    * The batch's postings checkpoint once and feed BOTH inserts — the
    * df delta is a groupBy over rows already materialized, never a
    * second tokenize. Both inserts are REPARTITIONED TO THE BUCKET
    * LAYOUT first (numBuckets partitions on the bucket key —
    * repartition's Murmur3 pmod IS the bucketing hash, the
    * Bucketing.compact trick applied at insert time): a bucketed insert
    * writes one file per (task, bucket) pair, so an unaligned
    * batch fragments at tasks × buckets per append — measured 841
    * files/epoch vs ~110 aligned on the 20-epoch stream probe
    * ([[Bucketing.insertAligned]]). */
  def appendDocs(table: String, docs: DataFrame,
      committedBatch: Option[Long] = None): Unit = {
    val spark = docs.sparkSession
    val toks = Retrieval.tokenizedDocsOf(docs).localCheckpoint(true)
    val post = postingsOf(toks).localCheckpoint(true)
    Bucketing.insertAligned(spark, table, post)
    Bucketing.insertAligned(spark, dfTableOf(table), dfOf(post))
    val (n0, s0) = stats(spark, table)
    val (n1, s1) = collectionStats(toks)
    // the streaming loop's idempotence marker rides in the SAME property
    // write as the stats fold — one catalog commit for both, so the
    // marker can never say "committed" while the stats say otherwise
    writeStats(spark, table, (n0 + n1, s0 + s1), committedBatch)
  }

  /** Recompute (n_docs, sum_dl) FROM the postings table, rewrite the
    * properties, and REBUILD the df companion — the recovery path for an
    * interrupted [[appendDocs]] (any of its three catalog operations may
    * have committed without the rest). Exact because every document owns
    * ≥ 1 posting row — [[Retrieval.tokenizedDocsOf]] coalesces null text
    * to "" and Spark's split("", " ") yields [""], so the invariant
    * holds by construction — and dl is constant across a doc's rows. */
  def refreshStats(spark: SparkSession, table: String): Unit = {
    // LIVE rows only: a recompute that restated tombstoned docs' stats
    // would undo their deferred delete's fold — the recovery path must
    // agree with what probes serve
    val live = Bucketing.liveRows(spark, table, "doc_id")
      .localCheckpoint(true)
    writeStats(spark, table, docStats(live), None)
    Bucketing.writeBucketed(dfOf(live), dfTableOf(table), "term",
      Bucketing.bucketSpec(Bucketing.metadata(spark, table)).numBuckets)
  }

  /** DELETE documents from the index pair — [[StoreFamily.delete]]: the
    * postings purge first (the correctness-critical step: at the swap
    * instant deleted docs stop being served, unconditionally), then
    * [[fold]]'s NEGATIVE df deltas — the append-only delta design's
    * payoff: a delete is O(deleted vocabulary) companion rows, never a
    * companion rewrite, and probe sums stay exact integers (totals +
    * positive deltas − negative deltas = survivor df, the arithmetic
    * DeleteSpec pins against a rebuild) — and (n_docs, sum_dl) folded
    * DOWN. A crash between purge and fold leaves stats/df overstated —
    * probes score with slightly-damped idf until [[refreshStats]]
    * recovers, but no deleted document is ever served. `docIds` is any
    * one-column frame of doc ids. */
  def delete(spark: SparkSession, table: String, docIds: DataFrame): Unit =
    StoreFamily.delete(Family, spark, table, docIds)

  /** DEFERRED delete — [[StoreFamily.deleteDeferred]]: the tombstone
    * append replaces [[delete]]'s purge, the derived state folds
    * identically at delete time, so probe results are BIT-EQUAL to the
    * eager verb's (DeleteSpec pins deferred ≡ eager ≡
    * rebuild-over-survivors). */
  def deleteDeferred(spark: SparkSession, table: String,
      docIds: DataFrame): Unit =
    StoreFamily.deleteDeferred(Family, spark, table, docIds)

  /** UPSERT/re-crawl — [[StoreFamily.reindex]]: the SAME doc_id arrives
    * with CHANGED text, and appending without deleting first would leave
    * the old text's postings silently coexisting with the new (double
    * df, phantom matches). One staged rewrite swaps the postings; the df
    * companion then gets the old rows' negative and the new rows'
    * positive deltas in one append, and the stats fold both directions
    * ([[fold]]). Brand-new doc_ids ride along (they replace nothing). */
  def reindex(spark: SparkSession, table: String, docs: DataFrame): Unit = {
    StoreFamily.open(Family, spark, table)
    val batch = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text"))
    val post = postingsOf(Retrieval.tokenizedDocsOf(batch))
      .localCheckpoint(true)
    StoreFamily.reindex(Family, spark, table, batch.select("doc_id"), post)
  }

  /** The derived-state [[StoreFamily.Fold]]: `removed` (materialized
    * live posting rows about to go) and `added` (new posting rows)
    * become one append of per-term df deltas — zero-sum terms dropped —
    * and one (n_docs, sum_dl) property write. Exact because every
    * document owns ≥ 1 posting row with a constant dl. */
  private def fold(spark: SparkSession, table: String, removed: DataFrame,
      added: Option[DataFrame]): Option[() => Unit] = {
    val (nDel, sDel) = docStats(removed)
    val (nNew, sNew) = added.fold((0L, 0L))(docStats)
    Option.when(nDel + nNew > 0L) { () =>
      val minus = removed.groupBy("term").agg((-count(lit(1))).as("df"))
      Bucketing.insertAligned(spark, dfTableOf(table), added.fold(minus)(a =>
        minus.unionByName(dfOf(a)).groupBy("term").agg(sum(col("df")).as("df"))
          .filter(col("df") =!= 0L)))
      val (n0, s0) = stats(spark, table)
      writeStats(spark, table, (n0 - nDel + nNew, s0 - sDel + sNew), None)
    }
  }

  /** (n_docs, sum_dl) of a posting-row frame. */
  private def docStats(post: DataFrame): (Long, Long) = {
    val r = post.groupBy("doc_id").agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Compact the index pair — [[Bucketing.compact]] on the postings
    * plus the df-specific MERGE, a second [[StoreFamily.rewrite]]: the
    * companion's append-only deltas collapse back to one total row per
    * term (sum is the fold the probe would otherwise realize per query).
    * Terms whose deltas sum to zero (every holder deleted) drop out — a
    * rebuild over the survivors would have no row for them either, so
    * compact-after-delete stays row-identical to that rebuild. Probes
    * before and after are row-identical (CompactionSpec). */
  def compact(spark: SparkSession, table: String): Unit = {
    Bucketing.compact(spark, table)
    StoreFamily.rewrite(spark, dfTableOf(table))(
      _.groupBy("term").agg(sum(col("df")).as("df")).filter(col("df") =!= 0L))
  }

  /** (term, doc_id, dl, tf) for a tokenized (doc_id, toks) frame — the
    * index's row shape, identical to the recompute path's postings slice
    * modulo column order (term leads because it is the bucket key). */
  private def postingsOf(toks: DataFrame): DataFrame =
    toks
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "dl", "tf")

  /** Per-term document frequency of a postings frame — one row per
    * (term, doc), so a plain count per term IS df. */
  private def dfOf(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  private def collectionStats(toks: DataFrame): (Long, Long) = {
    val r = toks.agg(
      count(lit(1)), coalesce(sum(size(col("toks"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def writeStats(spark: SparkSession, table: String,
      ns: (Long, Long), committedBatch: Option[Long]): Unit =
    Bucketing.setProps(spark, table,
      Family.identityOf(ns) ++
        committedBatch.map(Bucketing.LastBatchProp -> _.toString))

  /** Build-once memo for dir-derived indexes — the deployment shape the
    * registered q134 runs through ([[StoreFamily.ensureFor]]: `buckets`
    * AND a fingerprint of `corpusPred` in the key and table name, so two
    * callers reusing a tag with DIFFERENT predicates never silently
    * share the first predicate's index). */
  def ensureFor(spark: SparkSession, dir: String, tag: String,
      corpusPred: Column = lit(true), buckets: Int = 64,
      afterBuild: String => Unit = _ => ()): String =
    // `afterBuild` runs INSIDE the memoized build (once per (key,
    // listing)): the hook is for maintenance that is part of the index's
    // identity — q148 derives a condemned set from the fresh index and
    // [[delete]]s it, so every later ensure call probes the post-purge
    // store, never re-deriving verdicts against an already-purged one.
    // The tag distinguishes hooked from plain builds; callers reusing a
    // tag with a different hook own that contract (the tag rule).
    StoreFamily.ensureFor(Family, "postings", tag, dir, Seq(buckets),
      Some(corpusPred)) { t =>
      build(spark, dir, t, corpusPred, buckets)
      afterBuild(t)
    }

  /** The recorded collection stats (n_docs, sum_dl). */
  def stats(spark: SparkSession, table: String): (Long, Long) =
    statsOf(StoreFamily.recorded(Family, spark, table))

  private def statsOf(p: Map[String, String]): (Long, Long) =
    (p(NDocsProp).toLong, p(SumDlProp).toLong)

  /** BM25 top-k for `queryDocs` = (query_id, text) against the indexed
    * collection. The store reads are SIZE-ROUTED per
    * [[Bucketing.PruneLiteralLimit]]: a point-query-scale vocabulary
    * collects to the driver as the bucket-pruning `isin` literal
    * (`SelectedBucketsCount`, spec-pinned); a benchmark-sweep-scale
    * vocabulary restricts both reads by a BROADCAST VOCAB SEMI-JOIN
    * instead — the q127 below-the-aggregation rule, same restriction
    * with no giant plan literal and no driver collect (the literal
    * stopped skipping buckets at that size anyway; measured in
    * SCALING.md round 18). Either way the probe pays ONE
    * vocabulary-restricted postings read (the scoring join) plus a
    * vocabulary-sized read of the (term, df) deltas —
    * [[Retrieval.scoreTail]]'s handed-in df form. No localCheckpoint
    * barrier: the recompute path's barrier guards an expensive
    * tokenize→explode→aggregate prefix this probe no longer has, and
    * skipping it keeps the pruned route plan-visible and the block
    * store untouched. Self-matches are excluded by doc_id, matching the
    * recompute path. */
  def topKFor(spark: SparkSession, table: String, queryDocs: DataFrame,
      k: Int): DataFrame = {
    // a probe against a GROWING index must see committed appends — the
    // guard refreshes the pair (one listing per table)
    val (n, s) = statsOf(StoreFamily.open(Family, spark, table))
    val qterms = queryDocs
      .select(col("query_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
    val qvocab = qterms.select("term").distinct().localCheckpoint(true)
    // ONE job decides the route AND fetches the literals
    // ([[Bucketing.pruneLiterals]]); past the limit both reads restrict
    // by the broadcast vocab semi-join instead
    val lits = Bucketing.pruneLiterals(qvocab)
    val byVocab = (t: DataFrame) => t.join(broadcast(qvocab), Seq("term"))
    // the DEFERRED-delete subtraction rides the pruned slice
    // ([[StoreFamily.probeScan]]), with df/stats already folded down at
    // delete time — the probe arithmetic is bit-equal to the eager
    // verb's. With nothing pending this is the plain pruned scan.
    val slice = StoreFamily.probeScan(Family, spark, table, lits, byVocab)
      .select("doc_id", "dl", "term", "tf")
    // the companion's delta rows fold here — exact integer sum, the same
    // df the recompute path counts from its slice
    val dfreq = Bucketing.restrict(spark, dfTableOf(table), "term", lits,
      byVocab).groupBy("term").agg(sum(col("df")).as("df"))
    // READ-COMMITTED over the three-operation append: the stats property
    // statement is an append's COMMIT POINT (appendDocs's contract — the
    // marker rides in it), so rows visible while the recorded n_docs is
    // still 0 belong to an in-flight append. Serve the committed-empty
    // result and read NO slice rows, rather than evaluate idf/avgdl at
    // n_docs = 0 (ANSI DIVIDE_BY_ZERO — found by SoakProbe's first run,
    // where the serving thread raced the stream's first batch). Past the
    // first commit the residual mid-append window is BENIGN-BUT-STATED-
    // FULLY: a probe may transiently score a later batch's already-
    // inserted postings under the previous commit's stats — a bounded
    // idf/avgdl deviation, and in the worst case (a term held by more
    // in-flight docs than the recorded n_docs admits) the Lucene idf's
    // (n_docs − df + ½)/(df + ½) term can go NEGATIVE, which is not just
    // a score shift but a possible transient RANKING INVERSION for that
    // term's matches (round-18 advice, now stated). It disappears when
    // the append's property statement lands, never crashes, and never
    // misses a committed document; deployments for which a transient
    // inversion matters gate probes on the batch marker (probe only
    // between batches — the SoakProbe serving pattern) rather than
    // paying a per-row batch column on every posting. The mirror-image
    // DELETE window (purged rows with stats not yet folded down) only
    // DAMPS idf — df never exceeds n_docs there — so it cannot invert.
    val committed = n > 0
    val statsDf = spark.range(1)
      .select(lit(if (committed) n else 1L).as("n_docs"),
        lit(if (committed) s else 1L).as("sum_dl"))
    Retrieval.scoreTail(qterms,
      if (committed) slice else slice.limit(0),
      if (committed) dfreq else dfreq.limit(0), statsDf, k)
  }
}
