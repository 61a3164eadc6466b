package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}

/** Q124: the end-to-end CURATION COMPOSITE — the README's "100 TB
  * curation run" (ingest gate → score/calibrate → exact dedup → fuzzy
  * sweep → decontaminate → domain caps → repeat tiers → leakage-safe
  * split) as ONE executable pipeline instead of prose. Every stage is the
  * library's already-oracle-checked operator applied to the PREVIOUS
  * stage's survivors, so the cross-stage contracts (schema flowing
  * between stages, quality scores reused by the dedup keep-rule and the
  * domain caps, cluster labels reused by the split) are exercised
  * together — the integration seam the per-stage oracles cannot see.
  *
  * Stage semantics (each the verified operator it names):
  *  0. arriving    — docs outside the sealed slice (doc_id % 10 == 7 is
  *                   the already-ingested corpus, q81's convention).
  *  1. admitted    — ingest gate: arriving docs whose bag-of-words
  *                   fingerprint (q81's fp) is NOT in the sealed corpus;
  *                   spelled as the exact anti-join here (one fp-keyed
  *                   shuffle; co-located over bucketed tables at scale) —
  *                   q81 is the scan-local bloom variant of this gate.
  *  2. scored      — q21 quality scoring + q99 per-source percentile
  *                   calibration on the ADMITTED population; bottom
  *                   quartile of every source dropped (q99's gate),
  *                   EXCEPT sources with fewer than [[MinCalibrationDocs]]
  *                   admitted docs, which skip the gate entirely: a
  *                   percentile gate over n < 4 docs always kills at
  *                   least one (percent_rank = 0 even when n = 1), so
  *                   without the guard a single-doc source is silently
  *                   annihilated by its own calibration.
  *  3. exact_kept  — q08 whole-document dedup: keep the smallest doc_id
  *                   per content md5.
  *  4. fuzzy_kept  — the q30/q36/q82 sweep on the exact-dedup survivors:
  *                   banded-MinHash verified pairs (jaccard ≥ 0.5) →
  *                   min-label cluster resolution → keep the
  *                   best-quality member per cluster (STAGE-2 scores
  *                   reused — the cross-stage contract).
  *  5. clean       — q29 decontamination: drop survivors sharing an
  *                   8-token n-gram with the held-out benchmark slice
  *                   (doc_id % 20 == 7 — inside the sealed slice, so
  *                   benchmark docs can never reach the training flow).
  *  6. capped      — q91 domain caps keyed on source: keep the top
  *                   [[Cap]] docs per source by (quality desc, doc_id) —
  *                   the budget goes to the best documents.
  *  7-9. split_*   — q104 repeat tiers (4×/2×/1× by re-calibrated
  *                   quality quartile on the capped survivors; the 0×
  *                   tier IS stage 2's gate, applied once) and q105's
  *                   leakage-safe split: the split key is the FUZZY
  *                   CLUSTER canonical (stage 4's labels), so near-dups
  *                   can never straddle train/test.
  *
  * Output: the stage-boundary accounting table — (stage_ord, stage,
  * n_docs, n_tokens, effective_tokens) — the numbers a curation run
  * publishes (RefinedWeb §4.2-style removal accounting), oracle-checked
  * end to end: the DuckDB twin replays every stage from the same base
  * table through the same parameterized CTE chains the per-stage oracles
  * use ([[Text.qualityScoredSqlFrom]], [[Dedup.minhashPairsSqlFrom]]).
  *
  * Scale shape: one keyed shuffle per rendezvous — fp for the gate,
  * content-md5 for exact dedup, the banded buckets for the fuzzy sweep,
  * gram keys for decontam, source for the calibrate/cap/tier windows —
  * each over a strictly shrinking survivor set. Stage outputs are lazy
  * localCheckpoint barriers (see [[stages]]): each stage's partitions
  * are computed once and reused, so Spark never re-derives the whole
  * prefix once per accounting row or per downstream consumer. The
  * barriers live in executor-local storage — a run that dies restarts
  * from the parquet inputs, not from a stage. The per-source windows
  * are catalog-bounded (q99's argument: sources are few, documents are
  * not). Stage-boundary invariants (doc/token conservation, dedup
  * idempotence, decontam completeness, split leakage-freedom, q53
  * packing token conservation, [[exportTrainShards]] round-trip) are
  * pinned in CurationPipelineSpec; CurationPlantedSpec additionally
  * pins DETECTIONS on a synthetic corpus with known planted defects
  * (each stage removes exactly its plant).
  */
object CurationPipeline {

  /** Per-source survivor budget for the domain-cap stage: binds hard at
    * sf0.1 (~150+ survivors/source) and marginally at sf0.01 (~15). */
  private[queries] val Cap = 15

  /** Stage-2 small-source guard: the per-source quality gate only
    * applies to sources with at least this many ADMITTED docs. Below it
    * percent_rank's denominator (n-1) makes the bottom-quartile cut
    * degenerate — at n = 1 the only doc has rank 0 and dies. 4 is the
    * smallest n where the gate drops exactly the intended one-in-four. */
  private[queries] val MinCalibrationDocs = 4

  final case class Stages(
      arriving: DataFrame,
      admitted: DataFrame,
      scored: DataFrame,
      exactKept: DataFrame,
      fuzzyKept: DataFrame,
      labels: DataFrame,
      contaminated: DataFrame,
      clean: DataFrame,
      capped: DataFrame,
      split: DataFrame)

  /** q81's bag-of-words fingerprint — the shared definition. */
  private def fpCol: Column = Curation.bowFingerprint

  /** Build the pipeline with the fuzzy sweep recomputed (q124's
    * spelling). The one barrier policy: every stage boundary is ONE
    * lazy `localCheckpoint(eager = false)` — the partitions persist the
    * first time an action computes through the boundary, and every later
    * consumer reads them instead of re-deriving the prefix. Cluster
    * resolution ([[Dedup.resolveClusters]]'s per-round actions) and, on
    * the index-served path, store maintenance force their prefix before
    * this returns; everything else materializes in the caller's first
    * action. Measured alternative, declined: cache() barriers preserve
    * partitioning but AQE materializes every InMemoryTableScan as its
    * own table-cache stage JOB — q124 went 30 → 58 builder jobs and
    * 4.2 → 7.5 s (sf0.1, 32 cores).
    *
    * `materialize = false` returns the same frames with no barrier, so
    * their full logical plans stay visible — for plan metrics and audits
    * only; executed, each stage would re-derive its whole prefix once
    * per consumer. */
  def stages(spark: SparkSession, dir: String,
      materialize: Boolean = true): Stages =
    stagesImpl(spark, dir, materialize, labels = None, bandStore = None)

  /** The index-served sweep's DEFAULT store name — derived, never
    * chosen (the r19 fixed name "bands_q149" collided across sessions
    * sharing a warehouse, and writeBucketed's DROP made the collision
    * destructive): the corpus dir AND its current file-listing
    * signature fold into the name, so two dirs never share a store and
    * an in-place corpus rewrite resolves to a FRESH table instead of
    * reconciling against stale band rows (the IndexMemo rule applied to
    * naming). Same dir, same listing → same name: that is the point —
    * the second run finds the first run's store and reconciles
    * (a no-op), paying the sweep alone. Two-crawl callers name their
    * store explicitly via [[accounting]]'s `bandStore` (the listing
    * changes per crawl, so the derived name would rebuild rather than
    * reconcile). */
  private def defaultBandTable(spark: SparkSession, dir: String): String = {
    val sig = Tables.listingSignature(dir, "documents")
    "bands_q149_" + java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$sig".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
  }

  /** Plan-audit hook: [[Dedup.resolveClusters]] runs per-round actions
    * (count/cache) REGARDLESS of `materialize`, so a plan-only audit
    * through [[stages]](materialize = false) would still execute the
    * pipeline's heaviest stage over the barrier-free prefix. This entry
    * point injects a precomputed (or stub) labels frame — (doc_id,
    * canonical) — and no barriers, so every stage plan builds without
    * running anything. The pair CANDIDATE plan shape is pinned
    * separately (q30's bucket-join test); never use this for execution. */
  private[graft] def stagesForPlanAudit(spark: SparkSession, dir: String,
      labels: DataFrame): Stages =
    stagesImpl(spark, dir, materialize = false, Some(labels), bandStore = None)

  /** `labels`: injected cluster labels (plan audit) instead of the sweep.
    * `bandStore`: serve the sweep from that persisted band store (q149)
    * instead of recomputing it (q124). */
  private def stagesImpl(spark: SparkSession, dir: String,
      materialize: Boolean, labels: Option[DataFrame],
      bandStore: Option[String]): Stages = {
    def barrier(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(eager = false) else df

    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))

    // 0/1 — ingest gate (q81 semantics, exact anti-join spelling)
    val sealedFps = docs.filter(col("doc_id") % 10 === 7)
      .select(fpCol.as("fp"))
    val arriving = docs.filter(col("doc_id") % 10 =!= 7)
      .transform(barrier)
    val admitted = arriving.withColumn("fp", fpCol)
      .join(sealedFps, Seq("fp"), "left_anti")
      .drop("fp")
      .transform(barrier)

    // 2 — score + per-source calibration gate (q21 + q99). The score is
    // computed IN PLACE on the checkpointed admitted frame (round-20,
    // guide §2.4): quality_score is a pure per-row expression of text,
    // so the old qual-projection + equi-join back on doc_id was a self-
    // join of the same RDD — two scans and a join rendezvous for zero
    // information. `carry` threads text/n_tok through the shared kernel
    // so q21/q99's registered spellings are untouched.
    val wCal = Window.partitionBy("source")
      .orderBy(col("quality_score"), col("doc_id"))
    val scored = Text.qualityScoredOn(admitted, carry = Seq("text", "n_tok"))
      .select(col("doc_id"), col("source"), col("text"), col("n_tok"),
        col("quality_score"))
      .withColumn("pct", percent_rank().over(wCal))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy("source")))
      .filter(col("pct") >= 0.25 || col("n_src") < MinCalibrationDocs)
      .drop("pct", "n_src")
      .transform(barrier)

    // 3 — exact dedup (q08: min doc_id per content hash)
    val wExact = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    val exactKept = scored
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") === 1)
      .drop("rn")
      .transform(barrier)

    // 4 — fuzzy sweep on the survivors (q30 pairs → q36 clusters → q82
    // keep-best; quality scores from stage 2 rank the keep choice).
    // Two spellings of the SAME pair stream: the recompute
    // (minhashPairsOn re-derives shingle → minhash → band per run — the
    // oracle anchor) and the INDEX-SERVED path (q149): the PERSISTED
    // band store tracks the pre-sweep survivor set across runs. First
    // run: band ONCE at the ingest gate (build over the admitted set)
    // and tombstone the later stages' drops (the DEFERRED verb —
    // O(condemned), probes subtract; the eager rewrite the r19 spelling
    // paid was the single-shot price the scale legs measured). Every
    // later run RECONCILES the store to the current exactKept set
    // (no-op over an unchanged corpus — appends/drops only for a
    // changed one; the two-crawl deployment), then sweeps shuffle-free
    // from the store (q140's bucketed self-join). Banding is
    // per-document and deterministic, so both spellings verify the
    // identical pair set — one oracle gates both rows.
    val clusters = labels.getOrElse {
      val pairs = bandStore match {
        case Some(table) =>
          if (!spark.sessionState.catalog.tableExists(
              org.apache.spark.sql.catalyst.TableIdentifier(table))) {
            graft.sources.BandIndex.buildDocs(spark, table,
              admitted.select("doc_id", "text"))
            graft.sources.BandIndex.deleteDeferred(spark, table,
              admitted.select("doc_id")
                .join(exactKept.select("doc_id"), Seq("doc_id"),
                  "left_anti"))
          } else graft.sources.BandIndex.reconcile(spark, table,
            exactKept.select("doc_id", "text"))
          graft.sources.BandIndex.nearDupPairs(spark, table,
              exactKept.select("doc_id", "text"))
            .select("doc_a", "doc_b")
        case None => Dedup
          .minhashPairsOn(spark, exactKept.select("doc_id", "text"))
          .select("doc_a", "doc_b")
      }
      Dedup.resolveClusters(pairs) // already checkpointed
    }
    val wClus = Window.partitionBy("canonical")
      .orderBy(col("quality_score").desc, col("doc_id"))
    val clusterDropped = exactKept.join(clusters, "doc_id")
      .withColumn("rn", row_number().over(wClus))
      .filter(col("rn") > 1)
      .select("doc_id")
    val fuzzyKept = exactKept
      .join(clusterDropped, Seq("doc_id"), "left_anti")
      .transform(barrier)

    // 5 — decontamination (q29's shared gram8On stage: 8-gram overlap
    // with the benchmark slice)
    // benchGrams and contaminated are SINGLE-consumer frames in the
    // registered row (clean's anti-join; accounting has no contaminated
    // row), so their barriers bought no reuse — two eager jobs whose
    // only effect was job-launch latency (round-20, guide §1.2 step 1).
    // Left lazy they fold into clean's one checkpoint; the Stages fields
    // still expose them (spec consumers re-derive from the checkpointed
    // fuzzyKept, paying only their own plan).
    val benchGrams = Dedup.gram8On(spark, docs.filter(col("doc_id") % 20 === 7))
      .select("gram").distinct()
    val contaminated = Dedup.gram8On(spark, fuzzyKept)
      .join(benchGrams, "gram")
      .select("doc_id").distinct()
    val clean = fuzzyKept.join(contaminated, Seq("doc_id"), "left_anti")
      .transform(barrier)

    // 6+7 — domain caps (q91 keyed on source, ranked by quality), repeat
    // tiers (q104, re-calibrated on the capped survivors; no second drop
    // — the 0× tier is stage 2's gate) and leakage-safe split (q105:
    // split key = fuzzy-cluster canonical), fused into ONE barrier
    // (round-20, guide §2.4): both windows partition by source, so the
    // cap rank and the tier percent_rank share a single exchange
    // (Exchange(source) → Sort desc → cap → Sort asc → tier) instead of
    // two checkpoint jobs with an exchange each. `capped` is the
    // column-projection of the fused frame — same rows by construction
    // (the labels join is 1:1: doc_ids are unique and labels carries one
    // row per doc), so accounting and every spec read identical values.
    val wCap = Window.partitionBy("source")
      .orderBy(col("quality_score").desc, col("doc_id"))
    val wTier = Window.partitionBy("source")
      .orderBy(col("quality_score"), col("doc_id"))
    val splitDf = clean
      .withColumn("r", row_number().over(wCap))
      .filter(col("r") <= Cap)
      .drop("r")
      .withColumn("pct2", percent_rank().over(wTier))
      .withColumn("repeats",
        when(col("pct2") >= 0.75, 4L).when(col("pct2") >= 0.5, 2L)
          .otherwise(1L))
      .drop("pct2")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("canonical"), col("doc_id")))
      .withColumn("split", Sampling.GroupSplit.splitCol(col("group_key")))
      .drop("canonical")
      .transform(barrier)
    val capped = splitDf.select(clean.columns.map(col): _*)

    Stages(arriving, admitted, scored, exactKept, fuzzyKept, clusters,
      contaminated, clean, capped, splitDf)
  }

  /** Terminal export: the pipeline's TRAIN split written as q90's
    * hive-partitioned token-budget shard layout (`source=<s>/shard=<n>`)
    * through the shared [[Curation.writeShardsOf]] writer — the durable
    * artifact a training loader consumes, closing the run at an actual
    * dataset instead of an accounting table. Repeat multiplicities are
    * the LOADER's schedule (q102's epoch shuffle consumes them); the
    * shard store carries each kept document once, with its repeats
    * column.
    *
    * Takes an already-computed [[Stages]] — deliberately the ONLY entry
    * point: a convenience overload that re-ran [[stages]] internally let
    * a driver calling both [[accounting]] and the export derive the
    * whole pipeline twice. Run [[stages]] once, export from it. */
  def exportTrainShards(st: Stages, outDir: String, budget: Long = 2048L): Unit =
    Curation.writeShardsOf(
      st.split
        .filter(col("split") === "train")
        .select(col("doc_id"), col("source"), col("text"), col("repeats")),
      outDir, budget)

  /** One accounting row per stage boundary. */
  private def acctRow(ord: Int, name: String, df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
      .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
        col("n_docs"), col("n_tokens"),
        col("n_tokens").as("effective_tokens"))

  /** The stage accounting rows. `bandStore = None` recomputes the fuzzy
    * sweep (q124); `Some(t)` serves it from band store `t` (q149). */
  def accounting(spark: SparkSession, dir: String,
      bandStore: Option[String] = None): DataFrame = {
    // The stage barriers are lazy (see `stages`): past what cluster
    // resolution and store maintenance already forced, every stage
    // materializes in the ONE action here — an eager checkpoint of the
    // 10-row accounting union. The stage RDD blocks are
    // ContextCleaner-reclaimed once the frames dereference, and the
    // bench's per-sample persistent-RDD sweep still guarantees each
    // timed pass recomputes from the parquet inputs.
    val st = stagesImpl(spark, dir, materialize = true, labels = None,
      bandStore)
    val splitRows = st.split
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"),
        coalesce(sum(col("n_tok") * col("repeats")), lit(0L))
          .as("effective_tokens"))
      .select(
        when(col("split") === "train", 7)
          .when(col("split") === "val", 8).otherwise(9).as("stage_ord"),
        concat(lit("split_"), col("split")).as("stage"),
        col("n_docs"), col("n_tokens"), col("effective_tokens"))
    val acct = acctRow(0, "arriving", st.arriving)
      .unionByName(acctRow(1, "admitted", st.admitted))
      .unionByName(acctRow(2, "scored", st.scored))
      .unionByName(acctRow(3, "exact_kept", st.exactKept))
      .unionByName(acctRow(4, "fuzzy_kept", st.fuzzyKept))
      .unionByName(acctRow(5, "clean", st.clean))
      .unionByName(acctRow(6, "capped", st.capped))
      .unionByName(splitRows)
      .localCheckpoint(true) // THE one materializing action
    acct.orderBy("stage_ord")
  }

  /** The composite's DuckDB replay — SHARED by q124 (recompute fuzzy
    * sweep) and q149 (the index-served sweep): the two spellings must
    * produce identical stage accounting, so registering both against
    * the ONE oracle is the equivalence proof at the gate (the
    * q133/q134 pattern lifted to the whole pipeline). */
  private val compositeOracleSql: String = {
      val acct = (ord: Int, name: String, src: String) =>
        s"""SELECT $ord AS stage_ord, '$name' AS stage,
              count(*) AS n_docs,
              CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens,
              CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS effective_tokens
            FROM $src"""
      s"""
      WITH RECURSIVE
      base AS (
        SELECT doc_id, source, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               ${Curation.bowFingerprintSql} AS fp
        FROM documents),
      arriving AS (SELECT * FROM base WHERE doc_id % 10 <> 7),
      admitted AS (
        SELECT a.doc_id, a.source, a.text, a.n_tok FROM arriving a
        WHERE NOT EXISTS (
          SELECT 1 FROM base s WHERE s.doc_id % 10 = 7 AND s.fp = a.fp)),
      ${Text.qualityScoredSqlFrom("admitted")},
      cal AS (
        SELECT a.doc_id, a.source, a.text, a.n_tok, q.quality_score,
               percent_rank() OVER (PARTITION BY a.source
                 ORDER BY q.quality_score, a.doc_id) AS pct,
               count(*) OVER (PARTITION BY a.source) AS n_src
        FROM admitted a JOIN quality q USING (doc_id)),
      scored AS (
        SELECT doc_id, source, text, n_tok, quality_score
        FROM cal WHERE pct >= 0.25 OR n_src < $MinCalibrationDocs),
      exact_r AS (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
          ORDER BY doc_id) AS rn
        FROM scored),
      exact_kept AS (
        SELECT doc_id, source, text, n_tok, quality_score
        FROM exact_r WHERE rn = 1),
      ${Dedup.minhashPairsSqlFrom("exact_kept")},
      edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs),
      reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
      labels AS (
        SELECT s AS doc_id, least(s, min(d)) AS canonical
        FROM reach GROUP BY s),
      ranked AS (
        SELECT l.doc_id,
               row_number() OVER (PARTITION BY l.canonical
                 ORDER BY k.quality_score DESC, l.doc_id) AS crn
        FROM labels l JOIN exact_kept k USING (doc_id)),
      fuzzy_kept AS (
        SELECT k.* FROM exact_kept k
        LEFT JOIN ranked r USING (doc_id)
        WHERE r.crn IS NULL OR r.crn = 1),
      bg AS (
        SELECT DISTINCT gram FROM (
          ${Dedup.gram8SqlFrom("documents")})
        WHERE doc_id % 20 = 7),
      cg AS (${Dedup.gram8SqlFrom("fuzzy_kept")}),
      contaminated AS (
        SELECT DISTINCT c.doc_id FROM cg c JOIN bg USING (gram)),
      clean AS (
        SELECT k.* FROM fuzzy_kept k
        WHERE NOT EXISTS (
          SELECT 1 FROM contaminated c WHERE c.doc_id = k.doc_id)),
      capped_r AS (
        SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY quality_score DESC, doc_id) AS r
        FROM clean),
      capped AS (
        SELECT doc_id, source, text, n_tok, quality_score
        FROM capped_r WHERE r <= $Cap),
      tiered AS (
        SELECT doc_id, source, n_tok,
               CAST(CASE WHEN p >= 0.75 THEN 4 WHEN p >= 0.5 THEN 2
                    ELSE 1 END AS BIGINT) AS repeats
        FROM (SELECT *, percent_rank() OVER (PARTITION BY source
                ORDER BY quality_score, doc_id) AS p
              FROM capped)),
      keyed AS (
        SELECT t.*, coalesce(l.canonical, t.doc_id) AS group_key
        FROM tiered t LEFT JOIN labels l USING (doc_id)),
      spl AS (
        SELECT *, ${Sampling.GroupSplit.splitSql("group_key")} AS split
        FROM keyed)
      SELECT * FROM (
        ${acct(0, "arriving", "arriving")}
        UNION ALL ${acct(1, "admitted", "admitted")}
        UNION ALL ${acct(2, "scored", "scored")}
        UNION ALL ${acct(3, "exact_kept", "exact_kept")}
        UNION ALL ${acct(4, "fuzzy_kept", "fuzzy_kept")}
        UNION ALL ${acct(5, "clean", "clean")}
        UNION ALL ${acct(6, "capped", "capped")}
        UNION ALL
        SELECT CASE split WHEN 'train' THEN 7 WHEN 'val' THEN 8
                 ELSE 9 END AS stage_ord,
               'split_' || split AS stage,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(sum(n_tok * repeats) AS BIGINT) AS effective_tokens
        FROM spl GROUP BY split)
      ORDER BY stage_ord"""
  }

  private val q124 = GraftQuery(
    "q124_curation_pipeline",
    (spark, dir) => accounting(spark, dir),
    Some(compositeOracleSql),
    headline = true)

  /** Q149: the composite with its fuzzy sweep INDEX-SERVED — the
    * production spelling of a RECURRING crawl's pipeline: band rows are
    * computed ONCE at the ingest gate ([[graft.sources.BandIndex]] built
    * over the admitted batch — in the streaming deployment this is
    * CurationChain.curatedBandIndexed accumulating at ingest), documents
    * the quality/exact-dedup stages drop are TOMBSTONED out of the store
    * (the deferred delete verb composed into the pipeline — O(drops),
    * probes subtract; the store tracks the live pre-sweep survivor set
    * instead of re-deriving it), and the fuzzy sweep is q140/q141's
    * shuffle-free store self-join + candidate-bounded verify — the
    * composite re-bands NOTHING. The store PERSISTS under a
    * listing-keyed name (round-20): the first run builds it, every
    * later run over the same corpus RECONCILES (a no-op) and pays the
    * sweep alone — the recurring-crawl claim, now measured by the row
    * itself (pass 1 builds, passes 2+ sweep; TwoCrawlSpec pins the
    * changed-corpus reconcile against the recompute replay). Same
    * stages, same accounting, SAME DuckDB oracle as q124 (banding is
    * per-document and deterministic, deferred delete ≡ eager ≡ rebuild
    * over survivors, and the store sweep ≡ the recompute sweep — each
    * equivalence separately spec-pinned; this row is their composition
    * proved at the gate). */
  private val q149 = GraftQuery(
    "q149_curation_pipeline_indexed",
    (spark, dir) => accounting(spark, dir, Some(defaultBandTable(spark, dir))),
    Some(compositeOracleSql),
    headline = true)

  val all: Seq[GraftQuery] = Seq(q124, q149)
}
