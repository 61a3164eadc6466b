package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical + hybrid retrieval over the `documents` corpus — the
  * data-selection primitives a training-data pipeline runs constantly
  * (more-like-this mining for domain data, retrieval-based decontamination,
  * hybrid candidate generation for hard negatives). Beyond-reference
  * additions; the reference ships no retrieval code.
  *
  * Q127 — Okapi BM25 (k1 = 1.2, b = 0.75, Lucene's always-positive idf
  * ln(1 + (N − df + ½)/(df + ½))) in "more-like-this" form: the query set
  * is the first [[NAnchors]] documents, each querying with its own distinct
  * token set; top-[[TopK]] matches per query, self excluded.
  *
  * Q128 — hybrid retrieval: BM25's lexical top-20 fused with exact-cosine
  * embedding top-20 (doc_id ≡ vec_id in the testdata corpus) by reciprocal
  * rank fusion, rrf = Σ 1/(60 + rank) (Cormack et al., SIGIR'09).
  *
  * Q133 — retrieval-scored decontamination: a fixed-size held-out
  * benchmark slice queries the remaining corpus through the same BM25
  * plan ([[bm25RankedWhere]]); see its own scaladoc for the measured
  * benchmark-cap rationale.
  *
  * Bit-exactness: per-term BM25 contributions are summed by an ORDERED
  * left fold (terms sorted; Spark `aggregate` over `array_sort`, DuckDB
  * `list_reduce` over `list(... ORDER BY term)` with a prepended 0.0) —
  * a plain SUM(double) is summation-order-nondeterministic and would
  * hash-flap. The idf's log goes through [[DetMath]] (libm `ln` differs
  * between engines in the last ulp; measured, see DetMath's scaladoc).
  * Decimal literals that would meet integers in DuckDB are cast to DOUBLE
  * first — DuckDB decimal arithmetic rounds differently than IEEE.
  *
  * 100 TB shape (q127): the full-corpus inverted index is never
  * materialized — postings are joined against the BROADCAST query
  * vocabulary, so df/idf and the scoring join only ever touch the ≤|query
  * vocab| term slice of the corpus (a semi-join the optimizer pushes to
  * the scan); corpus stats (N, Σdl) are metadata-class one-row aggregates;
  * the per-(query, doc) fold is a keyed shuffle bounded by matched pairs;
  * top-k is a per-query rank filter (partial per-partition heaps). The
  * idf's log (DetMath, one compiled `det_ln` node) runs on the per-TERM
  * frame (|query vocab| rows), not per posting. q128 adds one (query_id,
  * doc_id)-keyed full-outer join of two already-top-20 (i.e.
  * anchors×20-row) frames — broadcast-scale.
  * q128's vector half is deliberately the EXACT cosine ranking — the
  * honest O(anchors·n) RRF ground input at anchor scale (composite
  * probed sub-linear 0.46/0.50 through 300×, the BM25 half dominating —
  * SCALING.md round 16); at production anchor counts the documented
  * swap is [[Similarity.lshTopKAdaptive]], which emits the same
  * (query, doc, rank) shape (composition spec-pinned in RetrievalSpec).
  */
object Retrieval {

  private val NAnchors = 8
  private val TopK = 10
  private val FuseDepth = 20

  /** BM25 more-like-this ranking, Spark side: every (query, doc, rank ≤ k)
    * with the ordered-fold score and matched-term count. */
  private[graft] def bm25Ranked(spark: SparkSession, dir: String,
      nAnchors: Int, k: Int): DataFrame =
    bm25RankedWhere(spark, dir, col("doc_id") < nAnchors, lit(true), k)

  /** The general form: `queryPred` selects the QUERY documents (each
    * queries with its distinct token set), `corpusPred` the searchable
    * COLLECTION (collection stats — N, avgdl, df — are computed over it
    * alone, the standard IR framing where the query set is not part of
    * the index). q127 passes (doc_id < 8, TRUE); q133 splits the table
    * into a benchmark slice and the rest. */
  private[queries] def bm25RankedWhere(spark: SparkSession, dir: String,
      queryPred: Column, corpusPred: Column, k: Int): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Round 21, guide §2.4: only the CORPUS side rides the explicit
    // repartition (it feeds the posting explode — the single-file
    // gotcha). The query side is eval-bounded by contract and its
    // predicate pushes to the parquet scan, so routing it through the
    // repartitioned frame paid one whole exchange (and cpus scheduled
    // tasks) to spread a handful of documents; likewise the one-row
    // stats aggregate (count + integer token sum, order-independent)
    // needs no particular partitioning, so it reads the plain scan
    // instead of shuffling (doc_id, toks) first. Same rows, same
    // integers, bit-identical scores.
    bm25On(
      tokenizedDocsOf(docs.filter(queryPred))
        .select(col("doc_id").as("query_id"), col("toks")),
      tokenizedDocs(spark, dir).filter(corpusPred), k,
      statsToks = Some(tokenizedDocsOf(docs.filter(corpusPred))))
  }

  /** (doc_id, toks) over the corpus dir. Explicit-count repartition: the
    * testdata tables are one parquet file each (one scan partition), and
    * AQE coalesces small exchanges by BYTES — without this the explode +
    * broadcast probe + partial aggregation run near-single-threaded (the
    * repo-wide single-file gotcha). */
  private[graft] def tokenizedDocs(spark: SparkSession, dir: String): DataFrame =
    tokenizedDocsOf(Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id")))

  /** THE tokenizer, one definition: every postings producer — the
    * recompute path, PostingsIndex.build, and the frame-based
    * streaming appends — splits text through this, so the
    * append≡rebuild bit-exact contract can never drift on a
    * tokenization change. Null text coalesces to "" BEFORE the split
    * (split(null) is null, and the downstream explode would silently
    * DROP the document from its own postings while collection stats
    * still count it — the every-doc-owns-≥1-posting-row invariant
    * PostingsIndex.refreshStats recovers by must hold by construction,
    * not by corpus luck): a null-text doc tokenizes like an empty one,
    * to the single [""] term. */
  private[graft] def tokenizedDocsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      split(coalesce(col("text"), lit("")), " ").as("toks"))

  /** The frame-based recompute core: `queryToks` = (query_id, toks),
    * `corpusToks` = (doc_id, toks). Besides the dir-sliced batch entries
    * ([[bm25RankedWhere]]), this is the per-micro-batch kernel of the
    * streaming decontam splice (CurationChain.curatedRetrievalVerdicts —
    * there the BATCH is the collection side, so stats are batch-local by
    * construction; see that scaladoc). */
  private[graft] def bm25On(queryToks: DataFrame, corpusToks: DataFrame,
      k: Int, statsToks: Option[DataFrame] = None): DataFrame = {
    // `statsToks`: an optional cheaper spelling of the SAME collection
    // rows for the one-row (n_docs, sum_dl) aggregate — the dir-based
    // entry passes the un-repartitioned scan so the global aggregate
    // (order-independent integer arithmetic) skips the posting explode's
    // repartition exchange. Semantics owner stays corpusToks.
    val stats = statsToks.getOrElse(corpusToks).agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).as("sum_dl"))
    val qterms = queryToks
      .select(col("query_id"),
        explode(array_distinct(col("toks"))).as("term"))
    val qvocabTerms = qterms.select("term").distinct()
    // The query-vocabulary broadcast filter sits BELOW the tf aggregation
    // (plan-audited): the exploded posting stream is hash-probed map-side
    // before any shuffle, so the full-corpus inverted index is never
    // built — only the |query vocab| term slice is aggregated. dl is the
    // FULL document length (computed from toks before the filter).
    // localCheckpoint barrier (house idiom, see CurationPipeline): postings
    // feeds BOTH the df aggregation and the scoring join — without the
    // barrier Spark re-derives the whole scan→split→explode→probe→agg
    // prefix once per consumer (sf0.1 probe, min-of-3 fresh JVM: 6.2 s
    // unpartitioned → 4.4 s after the repartition → 3.8 s with this
    // barrier + the once-per-posting contrib in [[scoreTail]]).
    val postings = corpusToks
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(qvocabTerms), Seq("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    scoreTail(qterms, postings, stats, k)
  }

  /** The recompute path's scoring tail: df over the query-relevant
    * posting slice → [[termWeights]] on the per-TERM frame →
    * once-per-posting [[contribOf]] → per-(query, doc) [[scoreFold]] →
    * top-k. Callers hand a `postings` frame (doc_id, dl, term, tf)
    * already restricted to the query vocabulary AND cheap to consume
    * twice (checkpointed slice) — the tail reads it for df and again for
    * scoring. `stats` is a one-row (n_docs, sum_dl) frame. The persisted
    * [[graft.sources.PostingsIndex]] probe scores through the same three
    * pieces, which is what makes it bit-equal to this spelling
    * (PostingsIndexSpec pins it). */
  private[graft] def scoreTail(qterms: DataFrame, postings: DataFrame,
      stats: DataFrame, k: Int): DataFrame = {
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    // coalesce(1) below the vocabulary window (round 21, guide §2.4):
    // the un-partitioned rank window requires AllTuples, which a
    // one-partition child already satisfies — without the narrow merge
    // the planner inserted a SinglePartition Exchange here on every
    // scoreTail consumer. dfreq is vocabulary-scale by contract (the
    // frame is about to be broadcast whole), so one task is the right
    // parallelism.
    val qvocab = termWeights(dfreq.coalesce(1).crossJoin(broadcast(stats)),
      col("n_docs"), col("sum_dl"))
    // The BM25 contribution depends only on (term, doc) — never on the
    // query (more-like-this query term weight ≡ 1) — so it is computed
    // ONCE per posting, below the anchor fan-out: the per-pair join emits
    // pre-scored narrow rows instead of redoing the arithmetic per
    // (anchor, posting). Same IEEE ops on the same inputs as the oracle's
    // per-pair spelling, so bit-identical.
    val scored = postings
      .join(broadcast(qvocab), Seq("term"))
      .select(col("doc_id"), col("term"), col("r"),
        contribOf(col("idf"), col("avgdl")).as("c"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    // ONE exchange for the whole tail (round-20, guide §2.4): hash-
    // partitioning by query_id alone satisfies BOTH the (query_id,
    // doc_id) aggregation's clustering and the top-k window's, so the
    // explicit repartition replaces two planner-inserted exchanges
    // (agg + window) with one. Partial aggregation lost nothing: pair
    // rows are ~one-per-group per map partition at any scale (groups =
    // (query, doc) pairs), so the removed partial pass reduced almost
    // nothing while the fan-out rows paid a second hash-agg probe. The
    // explicit count pins the exchange against AQE's byte-based
    // coalescing (the repo-wide single-file gotcha); query sets are
    // eval-bounded by contract, and the window already required all of
    // a query's rows on one partition.
    broadcast(qterms.as("q"))
      .join(scored.as("p"),
        col("p.term") === col("q.term") && col("p.doc_id") =!= col("q.query_id"))
      .select(col("q.query_id"), col("p.doc_id"), col("p.r"), col("p.c"))
      .repartition(qterms.sparkSession.sparkContext.defaultParallelism,
        col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(scoreFold.head, scoreFold.tail: _*)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-term BM25 weights (term, r, idf, avgdl) of a ONE-partition
    * (term, df) frame, at the collection's `nDocs` and `sumDl`: Lucene's
    * always-positive idf through the det_ln kernel, avgdl, and the
    * vocabulary rank `r` — row_number over the binary-UTF8-sorted
    * vocabulary (the un-partitioned window needs no exchange above one
    * partition). Every pair row downstream carries this 4-byte int
    * INSTEAD of the term string (round 20, guide §2.3 — the string
    * existed only to fix the fold's IEEE add order, and the rank map is
    * order-preserving and injective, so sorting ranks visits the same
    * contributions in the same order: bit-identical scores, ~half the
    * bytes through the engine's largest exchange). */
  private[graft] def termWeights(dfreq: DataFrame, nDocs: Column,
      sumDl: Column): DataFrame = {
    graft.plans.GraftExtensions.install(dfreq.sparkSession)
    dfreq
      .withColumn("x",
        lit(1.0) + ((nDocs - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("idf", DetMath.lnCol(col("x")))
      .withColumn("avgdl", sumDl.cast("double") / nDocs)
      .withColumn("r", row_number().over(Window.orderBy("term")))
      .select("term", "r", "idf", "avgdl")
  }

  /** The BM25 contribution (k1 = 1.2, b = 0.75) of one posting row
    * (tf, dl) under its term's `idf` and the collection's `avgdl`. */
  private[graft] def contribOf(idf: Column, avgdl: Column): Column =
    idf * (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))

  /** The per-(query, doc) aggregate over (r, c) contribution rows: the
    * score — compiled ordered fold (graft.plans.RankContribFold):
    * identical element order and IEEE add sequence as the interpreted
    * aggregate(array_sort(...)) spelling; the HOF ran a lambda frame per
    * element over ~3.9M pair rows and was ~3× the aggregation's cost at
    * sf0.1 (SCALING.md round 20), and the term-string key the first
    * compiled kernel still carried is replaced by the vocabulary rank int
    * (SortedFoldsSpec pins rank fold ≡ term fold ≡ interpreted,
    * bit-for-bit) — and n_terms. */
  private[graft] def scoreFold: Seq[Column] = Seq(
    call_function("rank_contrib_fold",
      collect_list(struct(col("r"), col("c")))).as("score"),
    count(lit(1)).as("n_terms"))

  /** The matching DuckDB CTE chain, ending in relation `lex` with columns
    * (query_id, doc_id, n_terms, score, rank ≤ k). `queryPredSql` /
    * `corpusPredSql` mirror [[bm25RankedWhere]]'s predicates. */
  private def bm25RankedSqlCtes(nAnchors: Int, k: Int): String =
    bm25RankedWhereSqlCtes(s"doc_id < $nAnchors", "TRUE", k)

  private def bm25RankedWhereSqlCtes(queryPredSql: String,
      corpusPredSql: String, k: Int): String =
    bm25CtesPrefixed("b", "lex", queryPredSql, corpusPredSql, k)

  /** The chain with every CTE name prefixed and the final relation named
    * by the caller — what lets ONE DuckDB statement instantiate the BM25
    * derivation twice (q148's oracle: a verdict chain over the original
    * corpus feeding a `condemned` set, then the survivor chain over the
    * corpus minus it). Renaming CTEs changes no semantics, so every
    * existing oracle keeps hashing identically through the "b"/"lex"
    * delegation above. */
  private def bm25CtesPrefixed(p: String, finalName: String,
      queryPredSql: String, corpusPredSql: String, k: Int): String =
    s"""${p}all AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      ), ${p}toks AS (
        SELECT * FROM ${p}all WHERE $corpusPredSql
      ), ${p}post AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM ${p}toks)
        GROUP BY doc_id, dl, term
      ), ${p}stats AS (
        SELECT count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS sum_dl
        FROM ${p}toks
      ), ${p}q AS (
        SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
        FROM ${p}all WHERE $queryPredSql
      ), ${p}df AS (
        SELECT p.term, count(*) AS df
        FROM ${p}post p WHERE p.term IN (SELECT term FROM ${p}q)
        GROUP BY p.term
      ), ${p}x AS (
        SELECT term, df,
               1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) /
                     (CAST(df AS DOUBLE) + 0.5) AS x
        FROM ${p}df CROSS JOIN ${p}stats
      ), ${DetMath.lnSqlCtes(s"${p}x", "x", s"${p}idf")},
      ${p}score AS (
        SELECT q.query_id, p.doc_id, q.term,
               f.${p}idf * (CAST(p.tf AS DOUBLE) * 2.2) /
               (CAST(p.tf AS DOUBLE) +
                1.2 * (0.25 + 0.75 * CAST(p.dl AS DOUBLE) /
                       (CAST(s.sum_dl AS DOUBLE) / s.n_docs))) AS c
        FROM ${p}q q
        JOIN ${p}post p ON p.term = q.term AND p.doc_id <> q.query_id
        JOIN ${p}idf_fin f ON f.term = q.term
        CROSS JOIN ${p}stats s
      ), ${p}sum AS (
        SELECT query_id, doc_id,
               list_reduce(list_prepend(CAST('0.0' AS DOUBLE),
                                        list(c ORDER BY term)),
                           (u, v) -> u + v) AS score,
               count(*) AS n_terms
        FROM ${p}score GROUP BY query_id, doc_id
      ), $finalName AS (
        SELECT query_id, doc_id, n_terms, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM ${p}sum QUALIFY rank <= $k
      )"""

  private[queries] val q127 = GraftQuery(
    "q127_bm25_retrieval",
    (spark, dir) =>
      bm25Ranked(spark, dir, NAnchors, TopK)
        .select("query_id", "doc_id", "n_terms", "score", "rank")
        .orderBy("query_id", "rank"),
    Some(s"""
      WITH ${bm25RankedSqlCtes(NAnchors, TopK)}
      SELECT query_id, doc_id, n_terms, score, rank
      FROM lex ORDER BY query_id, rank"""),
    headline = true)

  /** Exact-cosine ranking of the same anchor set over embeddings (the
    * doc_id ≡ vec_id corpus alignment), reusing the compiled dot fold. */
  private[queries] def cosineRanked(spark: SparkSession, dir: String,
      nAnchors: Int, k: Int): DataFrame = {
    val e = Similarity.normedVectors(spark, dir)
    val q = e.filter(col("vec_id") < nAnchors)
    val cos = Similarity.dot(col("q.v"), col("c.v")) /
      (col("q.nrm") * col("c.nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("doc_id"))
    broadcast(q.as("q"))
      .join(e.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("doc_id"),
        cos.as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Reciprocal-rank fusion of two ranked lists — the kernel q128
    * registers with the exact-cosine vector list, and the seam where the
    * documented production swaps plug in: any frame with
    * (query_id, doc_id, rank) fuses — [[Similarity.lshTopKAdaptive]]'s
    * recompute output AND the fully index-served stack
    * ([[graft.sources.PostingsIndex.topKFor]] lexical +
    * [[graft.sources.AnnIndex.topK]] vector), both compositions
    * spec-pinned in RetrievalSpec. Docs on one list only carry rank −1
    * for the other. */
  private[queries] def fuseRrf(lex: DataFrame, vec: DataFrame,
      k: Int): DataFrame = {
    // UNION + one-exchange groupBy instead of a FULL OUTER join
    // (round-20, guide §2.4): each ranked list is unique-keyed on
    // (query_id, doc_id) by construction (rank rows), so the full-outer
    // equi-join is exactly a union + per-key max of the two rank
    // columns — but the join spelling cost THREE exchanges (Spark's
    // co-partition rule requires ALL join keys, so both already-
    // query_id-partitioned inputs re-shuffled by (query_id, doc_id),
    // then the fused window re-shuffled by query_id), while the union
    // needs ONE query_id exchange that the groupBy and the window both
    // reuse. Rank ints and the 1/(60+rank) arithmetic are unchanged, so
    // every fused score is bit-identical.
    val rankT = lex.schema("rank").dataType
    val l = lex.select(col("query_id"), col("doc_id"),
      col("rank").as("lex_rank0"), lit(null).cast(rankT).as("vec_rank0"))
    val v = vec.select(col("query_id"), col("doc_id"),
      lit(null).cast(rankT).as("lex_rank0"), col("rank").as("vec_rank0"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    l.unionByName(v)
      .repartition(lex.sparkSession.sparkContext.defaultParallelism,
        col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(max(col("lex_rank0")).as("lex_rank0"),
        max(col("vec_rank0")).as("vec_rank0"))
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank0"), lit(-1)).cast("long").as("lex_rank"),
        coalesce(col("vec_rank0"), lit(-1)).cast("long").as("vec_rank"),
        (coalesce(lit(1.0) / (lit(60) + col("lex_rank0")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rank0")), lit(0.0)))
          .as("rrf_score"))
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= k)
      .orderBy("query_id", "fused_rank")
  }

  private[queries] val q128 = GraftQuery(
    "q128_hybrid_rrf",
    (spark, dir) => fuseRrf(
      bm25Ranked(spark, dir, NAnchors, FuseDepth),
      cosineRanked(spark, dir, NAnchors, FuseDepth),
      TopK),
    Some(s"""
      WITH ${bm25RankedSqlCtes(NAnchors, FuseDepth)},
      ${Similarity.normedVectorsSql},
      vscored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               ${Similarity.dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < $NAnchors
      ), vec AS (
        SELECT query_id, doc_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, doc_id) AS rank
        FROM vscored QUALIFY rank <= $FuseDepth
      ), fused AS (
        SELECT coalesce(l.query_id, v.query_id) AS query_id,
               coalesce(l.doc_id, v.doc_id) AS doc_id,
               coalesce(l.rank, -1) AS lex_rank,
               coalesce(v.rank, -1) AS vec_rank,
               coalesce(CAST('1.0' AS DOUBLE) / (60 + l.rank),
                        CAST('0.0' AS DOUBLE)) +
               coalesce(CAST('1.0' AS DOUBLE) / (60 + v.rank),
                        CAST('0.0' AS DOUBLE)) AS rrf_score
        FROM lex l FULL OUTER JOIN vec v
          ON l.query_id = v.query_id AND l.doc_id = v.doc_id
      ), franked AS (
        SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rrf_score DESC, doc_id) AS fused_rank
        FROM fused QUALIFY fused_rank <= $TopK
      )
      SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score, fused_rank
      FROM franked ORDER BY query_id, fused_rank"""),
    headline = true)

  /** Q133: retrieval-scored DECONTAMINATION — the third modality beside
    * q29's token-gram overlap and q85's embedding proximity, and the one
    * production suites actually pair with n-grams (a paraphrased or
    * lightly-edited benchmark item shares few exact 8-grams and may
    * embed far, but still shares the RARE TERMS BM25's idf weighs
    * highest): every held-out benchmark document (the `doc_id % 100 = 7 AND doc_id < 5000`
    * slice — a FIXED-size held-out set: real eval suites do not grow
    * with the crawl, and the cap is what keeps the query side
    * eval-set-bounded at any corpus scale — the round-16 probe measured
    * the uncapped 1%-of-corpus spelling super-linear on the heaps
    * corpus, where 1500 benchmark docs' shared Zipf-head vocabulary
    * degenerated the rendezvous toward all-pairs) queries the REMAINING corpus — collection stats computed
    * over the corpus side alone, the standard IR framing — and the
    * top-[[DecontamTopK]] lexical matches per benchmark item come back
    * as review candidates (bench_id, doc_id, n_terms, score, rank).
    * Rank-based by design: a fixed score threshold is corpus-dependent,
    * while "the k strongest lexical matches per benchmark item" is the
    * shape a human review queue or a downstream verifier (q29 run on
    * just these pairs) consumes.
    *
    * Same plan as q127 with the benchmark slice as the query side —
    * every 100 TB property carries over (query-vocab-bounded postings,
    * one checkpointed slice, broadcast rendezvous, WindowGroupLimit
    * top-k); the benchmark is eval-set-sized, so the broadcast side
    * stays small exactly like DecontamStream's gram table. */
  private val DecontamTopK = 5
  private val decontamOracleSql = s"""
      WITH ${bm25RankedWhereSqlCtes("doc_id % 100 = 7 AND doc_id < 5000", "doc_id % 100 <> 7 OR doc_id >= 5000", DecontamTopK)}
      SELECT query_id AS bench_id, doc_id, n_terms, score, rank
      FROM lex ORDER BY bench_id, rank"""

  private[queries] val q133 = GraftQuery(
    "q133_retrieval_decontam",
    (spark, dir) =>
      bm25RankedWhere(spark, dir,
        queryPred = col("doc_id") % 100 === 7 && col("doc_id") < 5000,
        corpusPred = col("doc_id") % 100 =!= 7 || col("doc_id") >= 5000,
        k = DecontamTopK)
        .select(col("query_id").as("bench_id"), col("doc_id"),
          col("n_terms"), col("score"), col("rank"))
        .orderBy("bench_id", "rank"),
    Some(decontamOracleSql),
    headline = true)

  /** Q134: the INDEX-SERVED spelling of q133 — same benchmark, same
    * collection, same output, SAME DuckDB oracle; what changes is where
    * the postings come from: q133 re-derives the slice from the raw
    * corpus every run (tokenize → explode → aggregate, its fixed ~1.5 s
    * floor), q134 probes the persisted
    * [[graft.sources.PostingsIndex]] built once per corpus
    * (build-once memo keyed on the dir's listing signature), which is
    * the production shape of recurring decontamination — the benchmark
    * is fixed while the corpus grows, so the index is built/appended at
    * ingest and every decontam run is a bucket-pruned probe. The oracle
    * gate hash-comparing this row against q133's SQL is the parity
    * proof at both SFs, on top of PostingsIndexSpec's direct
    * probe≡recompute pin. */
  private[queries] val q134 = GraftQuery(
    "q134_postings_decontam",
    (spark, dir) => {
      val table = graft.sources.PostingsIndex.ensureFor(spark, dir,
        tag = "decontam",
        corpusPred = col("doc_id") % 100 =!= 7 || col("doc_id") >= 5000)
      val bench = Tables.documents(spark, dir)
        .filter(col("doc_id") % 100 === 7 && col("doc_id") < 5000)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.sources.PostingsIndex.topKFor(spark, table, bench, DecontamTopK)
        .select(col("query_id").as("bench_id"), col("doc_id"),
          col("n_terms"), col("score"), col("rank"))
        .orderBy("bench_id", "rank")
    },
    Some(decontamOracleSql),
    headline = true)

  /** Q136: the FULLY INDEX-SERVED hybrid — the production serving stack
    * as one oracle-gated row: the same 8 anchors query the persisted
    * [[graft.sources.PostingsIndex]] (bucket-pruned BM25 top-20, the
    * df-companion probe) and the persisted [[graft.sources.AnnIndex]]
    * (bucket-pruned LSH top-20 at the q35 banding), fused by the same
    * RRF kernel as q128. This is the composition RetrievalSpec pins
    * structurally, now END-TO-END against a composed DuckDB oracle
    * (q133's BM25 CTEs + q35's LSH CTEs + q128's fusion CTEs in one
    * statement) — the r17 q134/q135 register-against-the-recompute-
    * oracle trick applied to the full serving path. Deliberately NOT
    * q128's twin: q128's vector half is the exact-cosine ground truth,
    * this row's is the LSH index probe — the ranked lists differ where
    * LSH recall does, which is the production trade the RRF seam
    * exists to absorb. Both indexes come from the listing-keyed memos
    * (AnnIndex shares q135's table), so bench passes measure probes. */
  /** q136's body with the multi-probe dial exposed — the q146 expansion
    * composed INTO the hybrid serving stack's vector half: the anchors
    * sign client-side at the store's recorded banding (spec-pinned
    * equal to the self-probe, so the dial-off row and its oracle are
    * unchanged), and `multiProbe = true` expands them to Hamming-
    * radius-1 buckets before the index probe — the per-query recall
    * lever now inside the serving row that uses it (RRF absorbs the
    * deeper vector list unchanged). Dial-on is pinned against the
    * recompute-with-expansion composition in RetrievalSpec; the
    * recall/wall trade is measured in SCALING.md round 18 ("Multi-probe
    * LSH") and round 20 ("The multi-probe dial at the adaptive
    * transition"). */
  private[graft] def hybridIndexServed(spark: SparkSession, dir: String,
      multiProbe: Boolean): DataFrame = {
    val lexTable = graft.sources.PostingsIndex.ensureFor(spark, dir,
      tag = "hybrid")
    val annTable = graft.sources.AnnIndex.ensureFor(spark, dir,
      tag = "q135")
    val bench = Tables.documents(spark, dir)
      .filter(col("doc_id") < NAnchors)
      .select(col("doc_id").as("query_id"), col("text"))
    val lex = graft.sources.PostingsIndex.topKFor(spark, lexTable, bench,
      FuseDepth)
    val (tables, bits) = graft.sources.AnnIndex.recordedBanding(spark,
      annTable)
    val anchors0 = Similarity.signatureRowsOf(
      Similarity.normedVectors(spark, dir).filter(col("vec_id") < NAnchors),
      tables, bits)
    val anchors =
      if (multiProbe) Similarity.multiProbeExpand(anchors0, bits)
      else anchors0
    val vec = graft.sources.AnnIndex.topKFor(spark, annTable, anchors,
      FuseDepth, signedAt = Some((tables, bits)))
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    fuseRrf(lex, vec, TopK)
  }

  private[queries] val q136 = GraftQuery(
    "q136_hybrid_index_serving",
    (spark, dir) => hybridIndexServed(spark, dir, multiProbe = false),
    Some(s"""
      WITH ${bm25RankedWhereSqlCtes(s"doc_id < $NAnchors", "TRUE", FuseDepth)},
      ${Similarity.normedVectorsSql},
      ${Similarity.lshRankedSqlCtes(FuseDepth, crossLabelOnly = false,
        tables = 4, bits = 8, s"x.vec_id < $NAnchors", "vec")},
      fused AS (
        SELECT coalesce(l.query_id, v.query_id) AS query_id,
               coalesce(l.doc_id, v.neighbor_id) AS doc_id,
               coalesce(l.rank, -1) AS lex_rank,
               coalesce(v.rank, -1) AS vec_rank,
               coalesce(CAST('1.0' AS DOUBLE) / (60 + l.rank),
                        CAST('0.0' AS DOUBLE)) +
               coalesce(CAST('1.0' AS DOUBLE) / (60 + v.rank),
                        CAST('0.0' AS DOUBLE)) AS rrf_score
        FROM lex l FULL OUTER JOIN vec v
          ON l.query_id = v.query_id AND l.doc_id = v.neighbor_id
      ), franked AS (
        SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rrf_score DESC, doc_id) AS fused_rank
        FROM fused QUALIFY fused_rank <= $TopK
      )
      SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score, fused_rank
      FROM franked ORDER BY query_id, fused_rank"""),
    headline = true)

  /** Q148: DECONTAMINATE-THEN-SERVE — the delete verb oracle-gated
    * end-to-end on the postings family: the q134 decontam probe names
    * each benchmark item's strongest lexical match (rank-1, the
    * highest-confidence contamination verdict), those docs are PURGED
    * from the live index ([[graft.sources.PostingsIndex.delete]]:
    * anti-join staged rewrite, stats folded down, negative df deltas),
    * and the registered row is the SAME benchmark re-probing the
    * post-delete store. The DuckDB oracle replays the whole lifecycle
    * in one statement — the verdict chain over the original corpus
    * derives `condemned`, the survivor chain computes BM25 over the
    * corpus minus it — so the hash proves delete ≡ rebuild-over-
    * survivors at the oracle gate, on top of DeleteSpec's direct pin.
    * The purge rides INSIDE the listing-keyed memo build (ensureFor's
    * afterBuild hook): maintenance happens once per corpus, every
    * later run measures what production serves — a probe against the
    * purged store. This is the retro-purge every recurring decontam
    * sweep implies: the ingest gate refuses NEW contamination; this
    * row removes what was indexed before the benchmark existed. */
  private[queries] val q148 = GraftQuery(
    "q148_postings_delete_decontam",
    (spark, dir) => {
      val bench = Tables.documents(spark, dir)
        .filter(col("doc_id") % 100 === 7 && col("doc_id") < 5000)
        .select(col("doc_id").as("query_id"), col("text"))
      val table = graft.sources.PostingsIndex.ensureFor(spark, dir,
        tag = "deldecontam",
        corpusPred = col("doc_id") % 100 =!= 7 || col("doc_id") >= 5000,
        afterBuild = t => {
          // rank-1 verdicts materialize BEFORE delete rewrites the store
          // they were probed from (delete checkpoints its id frame first
          // anyway — this keeps the order visible at the call site)
          val condemned = graft.sources.PostingsIndex
            .topKFor(spark, t, bench, k = 1)
            .select("doc_id").distinct().localCheckpoint(true)
          graft.sources.PostingsIndex.delete(spark, t, condemned)
        })
      graft.sources.PostingsIndex.topKFor(spark, table, bench, DecontamTopK)
        .select(col("query_id").as("bench_id"), col("doc_id"),
          col("n_terms"), col("score"), col("rank"))
        .orderBy("bench_id", "rank")
    },
    Some(s"""
      WITH ${bm25CtesPrefixed("v", "vlex",
        "doc_id % 100 = 7 AND doc_id < 5000",
        "(doc_id % 100 <> 7 OR doc_id >= 5000)", 1)},
      condemned AS (SELECT DISTINCT doc_id FROM vlex),
      ${bm25CtesPrefixed("s", "slex",
        "doc_id % 100 = 7 AND doc_id < 5000",
        "(doc_id % 100 <> 7 OR doc_id >= 5000) AND doc_id NOT IN (SELECT doc_id FROM condemned)",
        DecontamTopK)}
      SELECT query_id AS bench_id, doc_id, n_terms, score, rank
      FROM slex ORDER BY bench_id, rank"""),
    headline = true)

  val all: Seq[GraftQuery] = Seq(q127, q128, q133, q134, q136, q148)
}
