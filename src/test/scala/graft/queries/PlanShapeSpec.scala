package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col

/** Physical-plan assertions — the properties that keep these queries
  * viable at 100 TB must hold in the plan, not just in intent: filters
  * reach the parquet scan, dimension joins broadcast, top-k never does a
  * global sort, and sessionization's two windows + groupBy share one
  * shuffle.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan
  }

  private def planString(name: String): String = plan(name).toString

  /** An executed AdaptiveSparkPlan prints Final + Initial sections; for
    * occurrence-count pins, keep only the final (actually-run) plan. */
  private def finalPlan(s: String): String = s.split("== Initial Plan ==").head

  /** hash-partitioned shuffles only (the final presentation ORDER BY adds
    * one range exchange that a sink would not need). */
  private def countHashShuffles(p: SparkPlan): Int =
    "Exchange hashpartitioning".r.findAllIn(p.toString).length

  test("q02: predicate and projection are pushed into the parquet scan") {
    val s = planString("q02_filter_project")
    assert(s.contains("PushedFilters: ["), s"no pushed filters in:\n$s")
    assert(s.contains("IsNotNull(event_type)") || s.contains("EqualTo(event_type"),
      s"event_type filter not pushed:\n$s")
    // projection pruning: the scan must not read props (unused 6th column)
    assert(!s.contains("ReadSchema") || !s.split("ReadSchema")(1).take(300).contains("props"),
      s"props column not pruned:\n$s")
  }

  test("q04: dimension joins broadcast (no shuffle of the fact side)") {
    val s = planString("q04_region_suppliers")
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$s")
    assert(!s.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$s")
  }

  test("q09: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val s = planString("q09_top_orders")
    assert(s.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$s")
  }

  test("q15: both windows and the groupBy share a single shuffle") {
    // lag + running-sum windows and the session groupBy all key on
    // user_id; Catalyst must not re-exchange between them
    val n = countHashShuffles(plan("q15_sessionize"))
    assert(n == 1, s"expected exactly 1 hash shuffle, got $n")
  }

  test("q01: aggregation is partial (map-side combine before the shuffle)") {
    val s = planString("q01_pricing_summary")
    assert(s.contains("HashAggregate"), s)
    // partial + final pair => the string contains two HashAggregate nodes
    assert(s.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"expected partial+final aggregation:\n$s")
  }

  test("q34: the query side is broadcast (brute-force scan stays narrow)") {
    val s = planString("q34_knn_bruteforce")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"expected the 20-vector query side broadcast:\n$s")
  }

  test("q32: candidates come from the prefix-gram index, never a lang-only block") {
    // the candidate self-join must key on the prefix GRAM (plus lang) so
    // shuffle cardinality tracks rare-gram occupancy, not language
    // population — a lang-only key would be one O(n²) block per language.
    // Any equi-join flavor is fine — at the tiny test fixture the stats
    // legitimately pick BroadcastHashJoin; what must hold at every scale
    // is the KEY LIST, not the exchange strategy.
    val stages = Dedup.q32Stages(spark, sfDir)
    val s = stages.cand.queryExecution.executedPlan.toString
    val joinKeys =
      "(?s)(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[[^\\]]*\\], \\[[^\\]]*\\]"
        .r.findAllIn(s).toList
    assert(joinKeys.nonEmpty, s"expected an equi-join in:\n$s")
    assert(joinKeys.exists(k => k.contains("gram") && k.contains("lang")),
      s"candidate join must key on (gram, lang), got: $joinKeys")
    // round 11: the PPJoin+ length bucket must be part of the join KEY
    // (index-side size pruning), not a post-join condition
    assert(joinKeys.exists(k => k.contains("gram") && k.contains("lang") &&
        (k.contains("jb") || k.contains("bkt"))),
      s"candidate join must carry the length-bucket key, got: $joinKeys")
    assert(!joinKeys.exists(k => k.contains("lang") && !k.contains("gram")
        && !k.contains("doc_")),
      s"found a lang-only block join: $joinKeys")
    // the gram build is materialized once via localCheckpoint, so the
    // join DAG must contain ZERO gram builds — round 8's repartition
    // "barrier" left 6 copies of the gram subtree (18 evaluations, some in
    // the parquet scan filter via InferFiltersFromGenerate)
    val nGramBuilds = "char_ngrams|sorted_hash64".r.findAllIn(s).length
    assert(nGramBuilds == 0,
      s"gram builds leaked into the candidate DAG $nGramBuilds times:\n$s")
  }

  test("q32: the early-exit jaccard kernel sits in the hash-verify join, and the " +
      "final plan re-derives strings for survivors only") {
    val stages = Dedup.q32Stages(spark, sfDir)
    // the hash-prune must run INSIDE the verify join (as its condition) so
    // below-threshold pairs are never materialized into a wide
    // (pair, array, array) intermediate
    val hv = finalPlan(stages.hashVerify.queryExecution.executedPlan.toString)
    assert("sorted_long_jaccard_ge".r.findAllIn(hv).length == 1,
      s"expected exactly one early-exit kernel in the hash verify:\n$hv")
    val joinLines = hv.linesIterator.filter(l =>
      l.contains("Join")).toList
    assert(joinLines.exists(_.contains("sorted_long_jaccard_ge")),
      s"the jaccard kernel must be a join condition, not a post-join filter:\n$hv")
    // the result plan starts from the checkpointed survivors: the heavy
    // pipeline is absent; char_ngrams appears exactly twice (the two
    // string re-derivation sides), never in a filter
    val rp = finalPlan(stages.result.queryExecution.executedPlan.toString)
    assert("char_ngrams".r.findAllIn(rp).length == 2,
      s"expected exactly two survivor-side gram builds:\n$rp")
    assert("sorted_hash64".r.findAllIn(rp).length == 0,
      s"hashed-gram pipeline must be checkpointed out of the result plan:\n$rp")
    val filterLines = rp.linesIterator.filter(l =>
      l.contains("Filter") || l.contains("PushedFilters") || l.contains("DataFilters"))
    assert(filterLines.forall(!_.contains("char_ngrams")),
      s"char_ngrams inside a filter:\n$rp")
  }

  test("q32 gram stage: one gram build, never inside a filter") {
    // the stage that IS allowed to compute grams: exactly one
    // char_ngrams (feeding one sorted_hash64), in a Project, never in a
    // Filter (the round-7 defect was constraint inference re-expanding
    // the call into the scan filter, tripling the most expensive
    // expression's per-row cost)
    val gp = Dedup.q32HashGrams(spark, sfDir).queryExecution.executedPlan.toString
    val n = "char_ngrams".r.findAllIn(gp).length
    assert(n == 1, s"expected exactly one gram build, got $n:\n$gp")
    assert("sorted_hash64".r.findAllIn(gp).length == 1,
      s"expected exactly one hash pass:\n$gp")
    val filterLines = gp.linesIterator.filter(l =>
      l.contains("Filter") || l.contains("PushedFilters") || l.contains("DataFilters"))
    assert(filterLines.forall(l => !l.contains("char_ngrams") && !l.contains("sorted_hash64")),
      s"gram build inside a filter:\n$gp")
  }

  test("q27/q28: winnowing fingerprints never re-expand into a scan filter") {
    // the q32 round-7 lesson asserted for the winnowing family: the
    // selection stage is checkpointed before the explode, so the join
    // DAG must contain ZERO winnowing expressions (before the round-10
    // barrier, InferFiltersFromGenerate re-expanded them into the scan
    // filter and each self-join side carried its own subtree copy — ~6
    // rolling passes per document)
    for (name <- Seq("q27_substring_dedup", "q28_dup_spans")) {
      val s = finalPlan(planString(name))
      assert("window_hashes|winnow_positions".r.findAllIn(s).isEmpty,
        s"$name: winnowing expressions leaked into the join DAG:\n$s")
    }
  }

  test("q27/q28 winnow stage: one rolling pass, one selection pass, never in a filter") {
    val gp = Dedup.winnowStage(spark, sfDir).queryExecution.executedPlan.toString
    assert("window_hashes".r.findAllIn(gp).length == 1,
      s"expected exactly one rolling-hash pass:\n$gp")
    assert("winnow_positions".r.findAllIn(gp).length == 1,
      s"expected exactly one selection pass:\n$gp")
    val filterLines = gp.linesIterator.filter(l =>
      l.contains("Filter") || l.contains("PushedFilters") || l.contains("DataFilters"))
    assert(filterLines.forall(l =>
      !l.contains("window_hashes") && !l.contains("winnow_positions")),
      s"winnowing expression inside a filter:\n$gp")
  }

  test("q29: one corpus scan; the benchmark side reads its own materialized frame") {
    // decontamination must stay a SINGLE corpus pass: the benchmark gram
    // table is checkpointed (its own frame — in production its own tiny
    // table), so the plan scans parquet exactly once and joins against
    // the materialized RDD without a forced broadcast hint (AQE decides
    // from the true runtime size)
    val s = planString("q29_decontaminate")
    assert("Scan parquet".r.findAllIn(s).length == 1,
      s"q29 must scan the corpus exactly once:\n$s")
    assert(s.contains("Scan ExistingRDD") || s.contains("LogicalRDD"),
      s"benchmark side must come from the materialized frame:\n$s")
  }

  test("q30: candidates come from a keyed (band, sig) bucket join, never all-pairs") {
    val s = planString("q30_minhash_lsh_dedup")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"q30 degraded to an all-pairs join:\n$s")
    val joinKeys =
      "(?s)(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[[^\\]]*\\], \\[[^\\]]*\\]"
        .r.findAllIn(s).toList
    assert(joinKeys.exists(k => k.contains("band") && k.contains("sig")),
      s"bucket join must key on (band, sig), got: $joinKeys")
  }

  test("q124 stage plans: keyed rendezvous everywhere, no all-pairs joins, " +
      "scan pruned to the pipeline's columns") {
    // the plan-audit hook: un-materialized stage frames (full plans
    // visible) AND a stub labels frame, so inspecting plans never
    // executes cluster resolution (whose per-round actions would run the
    // whole un-checkpointed prefix). The pair-candidate plan shape is
    // pinned by the q30 test above.
    // 1-row stub, NOT empty: an empty relation would let the optimizer
    // propagate emptiness through the inner joins and the very joins
    // being audited would vanish from the plan — the negative assertions
    // below would then pass vacuously
    val stubLabels = spark.range(1)
      .selectExpr("id AS doc_id", "id AS canonical")
    val st = CurationPipeline.stagesForPlanAudit(spark, sfDir, stubLabels)
    def p(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val gate = p(st.admitted)
    // the ingest gate is a hash-keyed LeftAnti on fp — never nested-loop
    assert(gate.contains("LeftAnti"), s"gate is not an anti-join:\n$gate")
    assert(!gate.contains("BroadcastNestedLoopJoin") &&
      !gate.contains("CartesianProduct"), s"gate degraded:\n$gate")
    // column pruning: the documents scan reads only what the pipeline
    // needs (doc_id, source, text) — lang and n_chars must be pruned
    assert(!gate.contains("ReadSchema") ||
      !gate.split("ReadSchema")(1).take(200).contains("n_chars"),
      s"n_chars not pruned from the scan:\n$gate")
    // decontam rendezvous keys on gram; split/caps windows key on source;
    // nothing anywhere degrades to an unkeyed join
    val full = p(st.split)
    assert(!full.contains("CartesianProduct"),
      s"a pipeline stage degraded to a cartesian product:\n$full")
    // positive pin: the joins being audited are actually IN the plan —
    // the labels frame joins the survivors on doc_id, so a doc_id-keyed
    // hash/merge join must appear (guards the negative assertions above
    // against vacuity if the optimizer ever simplifies the stages away)
    assert(
      "(?s)(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[[^\\]]*doc_id[^\\]]*\\]"
        .r.findFirstIn(full).isDefined,
      s"no doc_id-keyed join in the split plan — audit is vacuous:\n$full")
  }

  test("q126 epoch plan: bloom-routed probe, hash-keyed LeftAnti for " +
      "positives, keep-first window — never a nested-loop membership test") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), Curation.bowFingerprint.as("fp"))
    val sealedFps = docs.filter(col("doc_id") % 10 === 7).select("fp")
    val batch = docs.filter(col("doc_id") % 10 =!= 7)
    val bloom = sealedFps.select(xxhash64(col("fp")).as("h"))
      .stat.bloomFilter("h", 1000L, 0.01)
    val s = Curation.epochAdmit(batch, sealedFps, bloom)
      .queryExecution.executedPlan.toString
    // the sketch routes: both union branches carry the compiled probe
    assert("might_contain".r.findAllIn(s).length >= 2,
      s"bloom probe missing from the epoch plan:\n$s")
    // positives decide at a hash-keyed exact anti-join, never nested-loop
    assert(s.contains("LeftAnti"), s"no anti-join in the epoch plan:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"epoch membership test degraded:\n$s")
    // in-batch keep-first is a window on fp (one keyed shuffle), whose
    // top-1 compiles to the map-side group limit
    assert(s.contains("WindowGroupLimit"), s"keep-first not group-limited:\n$s")
  }

  test("q125: hard-negative candidates come from a keyed (tbl, sig) bucket join " +
      "with the cross-label filter in the join, never all-pairs") {
    val s = planString("q125_hard_negatives_lsh")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"q125 degraded to an all-pairs join:\n$s")
    val joinKeys =
      "(?s)(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[[^\\]]*\\], \\[[^\\]]*\\]"
        .r.findAllIn(s).toList
    assert(joinKeys.exists(k => k.contains("tbl") && k.contains("sig")),
      s"bucket join must key on (tbl, sig), got: $joinKeys")
    // the label inequality must sit in the CANDIDATE join (same-label
    // collisions die at the bucket probe, before any cosine), which in
    // the plan is the bucket join carrying a label-vs-label condition
    val bucketJoinRegion = s.split("\\n").filter(l =>
      l.contains("Join") && l.contains("tbl")).mkString("\n")
    assert(bucketJoinRegion.contains("label"),
      s"cross-label predicate not in the bucket join:\n$bucketJoinRegion")
  }

  test("q67: candidates come from a keyed (band, sig, lang) bucket join, never all-pairs") {
    // the scale contract that motivates q67 (SCALING.md round 11): the
    // candidate generator must block on the unbounded md5 band keyspace,
    // not on anything gram- or vocabulary-cardinality-bounded. The
    // registered query hides the candidate stage behind the verify's
    // checkpoint barrier, so pin the exposed lazy stage frames (the q32
    // pattern).
    val stages = Dedup.lshJaccardStages(spark, sfDir)
    val s = finalPlan(stages.cand.queryExecution.executedPlan.toString)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"q67 degraded to an all-pairs join:\n$s")
    val joinKeys =
      "(?s)(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[[^\\]]*\\], \\[[^\\]]*\\]"
        .r.findAllIn(s).toList
    assert(joinKeys.exists(k => k.contains("band") && k.contains("sig") &&
        k.contains("lang")),
      s"bucket join must key on (band, sig, lang), got: $joinKeys")
    // the verify must ride the shared jaccardVerifyStages kernel: the
    // early-exit merge kernel runs IN the hash-verify join condition
    val hv = finalPlan(stages.hashVerify.queryExecution.executedPlan.toString)
    assert("sorted_long_jaccard_ge".r.findAllIn(hv).length == 1,
      s"expected exactly one early-exit kernel in the hash verify:\n$hv")
    val joinLines = hv.linesIterator.filter(_.contains("Join")).toList
    assert(joinLines.exists(_.contains("sorted_long_jaccard_ge")),
      s"the jaccard kernel must be a join condition, not a post-join filter:\n$hv")
  }

  test("q64: uniform pick compiles to TakeOrderedAndProject (O(k) driver memory)") {
    val s = planString("q64_uniform_pick")
    assert(s.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k heaps, not a global sort:\n$s")
  }

  test("q19: exact deciles rank inside band partitions, never one global window") {
    // the scale contract: rank = driver-broadcast band offset + a window
    // PARTITIONED on the price band — a WindowExec with an empty
    // partition spec would move every order through one task
    val s = planString("q19_price_deciles")
    val windows = "(?s)Window \\[[^\\]]*\\], \\[[^\\]]*band[^\\]]*\\]".r.findAllIn(s).toList
    assert(windows.nonEmpty,
      s"expected the rank window partitioned by the price band:\n$s")
    assert(!s.contains("Exchange SinglePartition"),
      s"decile pipeline must not funnel rows through one partition:\n$s")
  }

  test("q31: candidate blocking slices 16-bit fingerprint blocks, not 8-bit") {
    // the block keyspace bounds candidate volume: 8-bit blocks (256 keys)
    // made pair count O(n²/256) — measured super-linear at the round-9
    // 10x scale probe (SCALING.md). 16-bit slices = 65 536 keys per block.
    val s = planString("q31_simhash_dedup")
    assert("substring\\(fp#\\d+, \\d+, 16\\)".r.findAllIn(s).nonEmpty,
      s"expected 16-bit fingerprint block slices:\n$s")
    assert("substring\\(fp#\\d+, \\d+, 8\\)".r.findAllIn(s).isEmpty,
      s"found 8-bit block slices (the quadratic round-8 shape):\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"q31 candidates must come from an equi-join on block keys:\n$s")
  }

  test("q40: the converter is ONE keyed shuffle, no join, single source pass") {
    // the whole spans→records DAG must cluster once on trace_id and do
    // everything else trace-locally; a window+topology-join regression
    // would re-read the source and add joins/exchanges
    val s = planString("q40_convert_spans")
    val n = countHashShuffles(plan("q40_convert_spans"))
    assert(n == 1, s"expected exactly 1 hash shuffle in the converter, got $n:\n$s")
    assert(!s.contains("Join"), s"converter must not join:\n$s")
    assert("Scan parquet".r.findAllIn(s).length == 1,
      s"source must be read exactly once:\n$s")
  }

  test("q53: window and per-sequence aggregation share ONE hash shuffle on source") {
    // HashPartitioning(source) satisfies the (source, seq) grouping's
    // ClusteredDistribution because seq ids nest within a source — the
    // packing prefix sum and the fill aggregation must reuse the same
    // exchange, and a second shuffle here would move the whole corpus
    // again at 100 TB
    val p = plan("q53_pack_sequences")
    val n = countHashShuffles(p)
    assert(n == 1, s"expected exactly 1 hash shuffle in packing, got $n:\n$p")
  }

  test("q54: corpus top-k compiles to TakeOrderedAndProject over partial-agg counts") {
    val s = planString("q54_boilerplate_grams")
    assert(s.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k heaps, not a global sort:\n$s")
    assert(s.contains("partial_count"),
      s"gram counts must combine map-side before the shuffle:\n$s")
  }

  test("q56: two corpus scans — the stream-rates table is materialized once") {
    // the per-stream aggregate must come from ONE scan and be reused as a
    // materialized frame; un-barriered it fed three subtrees and the plan
    // read the text column three times
    val s = planString("q56_mixture_sample")
    assert("Scan parquet".r.findAllIn(s).length <= 2,
      s"rates aggregate re-scans the corpus:\n$s")
    assert(s.contains("Scan ExistingRDD"),
      s"rates must come from the materialized frame:\n$s")
  }

  test("q59: rank and stratum-count windows share ONE hash shuffle on source") {
    val p = plan("q59_stratified_split")
    val n = countHashShuffles(p)
    assert(n == 1, s"expected exactly 1 hash shuffle in the split, got $n:\n$p")
  }

  test("q57: centroid assignment broadcasts, arg-min runs as a map-side group limit") {
    val s = finalPlan(planString("q57_kmeans"))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"centroids must broadcast (corpus never shuffles to meet them):\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"assignment degraded to a corpus shuffle:\n$s")
    // rn=1 must compile to WindowGroupLimit with a Partial stage so each
    // task keeps one candidate row per vector BEFORE the vec_id exchange
    // (k rows per vector crossing the wire is a k× shuffle at scale)
    assert(s.contains("WindowGroupLimit"),
      s"arg-min not compiled to a group limit:\n$s")
  }

  test("q58: the cosine verify lives in the join condition, never a post-join filter") {
    // the q32 verify lesson applied to SemDeDup: evaluated in the join
    // condition, non-duplicate pairs die on the transient joined row;
    // as a Filter above the join every same-cell pair (id pair + two
    // 64-dim vectors) would materialize first
    val s = finalPlan(planString("q58_semdedup"))
    assert(s.linesIterator.exists(l => l.contains("Join") && l.contains("dot_fold")),
      s"cosine must be part of the pair join's condition:\n$s")
    assert(!s.linesIterator.exists(l => l.contains("Filter") && l.contains("dot_fold")),
      s"cosine ran as a post-join filter:\n$s")
  }

  test("q85: benchmark side broadcasts; the cosine gate is in the join condition") {
    // the whole design is "corpus never shuffles to meet the eval set":
    // the join must be a broadcast nested-loop with the dot_fold cosine
    // evaluated as its condition, so sub-threshold (corpus row, bench
    // row) combinations die on the transient joined row
    val s = finalPlan(planString("q85_embedding_decontam"))
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"benchmark vectors must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"decontamination degraded to a corpus shuffle join:\n$s")
    assert(s.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && l.contains("dot_fold")),
      s"cosine must be the join condition:\n$s")
  }

  test("q86: model scoring is joinless; only the scan-parallelism exchange") {
    // hashed-weight scoring must compile to a map over the scan: the ONE
    // allowed hash exchange is the explicit local-mode repartition that
    // spreads the single-file scan (q29/q39 convention), never a weight
    // join or a corpus-keyed aggregation shuffle
    val p = plan("q86_linear_classifier")
    assert(countHashShuffles(p) == 1,
      s"expected exactly the scan-parallelism exchange:\n$p")
    assert(!p.toString.contains("Join"), s"scoring must not join:\n$p")
  }

  test("q87: TakeOrdered vocab, broadcast scoring, two hash shuffles total") {
    val s = finalPlan(planString("q87_vocab_coverage"))
    assert(s.contains("TakeOrderedAndProject"),
      s"top-200 vocab must be TakeOrdered, not a global sort:\n$s")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"),
      s"vocab must broadcast into the corpus pass:\n$s")
    // the per-doc count and the final join must REUSE the scan-parallelism
    // doc_id partitioning: scan repartition + vocab count and nothing else
    val n = countHashShuffles(plan("q87_vocab_coverage"))
    assert(n == 2, s"expected exactly 2 hash shuffles, got $n:\n$s")
  }

  test("q84: interval counting is boundary aggregation, never an interval join") {
    // the scale claim is "no unkeyed join, no per-day expansion of the
    // corpus": the plan must contain no nested-loop/cartesian join, and
    // exactly one generator (the calendar-spine sequence explode), not a
    // per-interval one
    val s = finalPlan(planString("q84_concurrent_intervals"))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"interval counting degraded to an interval join:\n$s")
    assert("Generate explode".r.findAllIn(s).length == 1,
      s"expected exactly one generator (the day spine):\n$s")
  }

  test("q90: shard window and manifest aggregation share ONE hash shuffle on source") {
    // the q53 invariant, sharding flavor: HashPartitioning(source)
    // satisfies the (source, shard) grouping because shard ids nest
    // within a source — a second exchange would move the corpus again
    val p = plan("q90_token_shards")
    val n = countHashShuffles(p)
    assert(n == 1, s"expected exactly 1 hash shuffle in sharding, got $n:\n$p")
  }

  test("q91: rank window and the audit aggregation share ONE hash shuffle on domain") {
    val p = plan("q91_domain_cap")
    val n = countHashShuffles(p)
    assert(n == 1, s"expected exactly 1 hash shuffle in domain cap, got $n:\n$p")
  }

  test("q94: one compiled rolling pass, chunking never re-expands into a filter") {
    // the CDC boundary rule must run as ONE window_hashes call above the
    // scan-parallelism repartition; InferFilters pushing it into a scan
    // filter would triple the rolling work (the q27 lesson)
    val s = finalPlan(planString("q94_cdc_chunk_dedup"))
    val calls = "window_hashes".r.findAllIn(s).length
    assert(calls == 1, s"expected exactly one rolling pass, got $calls:\n$s")
    assert(!"Filter [^\\n]*window_hashes".r.findFirstIn(s).isDefined,
      s"rolling hash re-expanded into a Filter:\n$s")
  }

  test("q92: fingerprint blocking slices 32-bit blocks (the widened keyspace)") {
    // the measured round-12 fix: 4x16-bit blocks put the birthday term at
    // n^2/2^16 (tail exponent 1.68 at 500k payloads); the plan must slice
    // 32-char block substrings of the 128-bit fingerprint
    val s = finalPlan(planString("q92_media_phash_neardup"))
    assert(s.contains(", 32) AS bits") || s.contains(", 32, true) AS bits") ||
      "substring\\([^)]*, (1|33|65|97), 32\\)".r.findFirstIn(s).isDefined,
      s"expected 32-bit block slices in the candidate index:\n$s")
  }

  test("q97: the exact recount is candidate-pruned (semi-join before groupBy)") {
    // the whole point of the sketch pass: the full-keyspace groupBy must
    // not exist — the gram aggregation runs above a semi-join against the
    // (bounded) candidate table
    val s = finalPlan(planString("q97_heavy_hitters"))
    assert("(?i)leftsemi".r.findFirstIn(s).isDefined,
      s"no semi-join pruning before the recount:\n$s")
  }

  test("q97: the sketch pass is a partial ObjectHashAggregate, not a sort") {
    // the mg_candidates TypedImperativeAggregate must take the
    // ObjectHashAggregate path with a map-side partial — a SortAggregate
    // fallback would globally sort the gram stream to feed an O(k) sketch
    val df = SparkEntry.queries("q97_heavy_hitters")(spark, sfDir)
    // the sketch job already ran during query construction (one-row
    // checkpoint); re-derive its plan directly to inspect it
    graft.plans.GraftExtensions.install(spark)
    val grams = graft.Tables.documents(spark, sfDir)
      .selectExpr("split(text, ' ') AS toks")
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("toks")) >= 3)
      .selectExpr("explode(transform(sequence(1, size(toks)-2), " +
        "i -> concat_ws(' ', slice(toks, i, 3)))) AS g")
    val s = grams.selectExpr("mg_candidates(g, 5000)")
      .queryExecution.executedPlan.toString
    assert(s.contains("ObjectHashAggregate"),
      s"mg_candidates did not take the ObjectHashAggregate path:\n$s")
    assert("partial_mg_candidates|partial mg_candidates".r.findFirstIn(s).isDefined
      || s.contains("partial"),
      s"no map-side partial sketch:\n$s")
    assert(df.columns.toSeq == Seq("g", "cnt"))
  }

  test("q98: snapshot sides shrink to hashes BEFORE the full-outer join") {
    // the join must shuffle (key, source, md5, count) projections, never
    // document text — at 100 TB text crossing the wire is the bottleneck
    val s = finalPlan(planString("q98_snapshot_diff"))
    val joinOn = "(?s)SortMergeJoin.*?FullOuter|FullOuter.*?SortMergeJoin".r
    assert("(?i)fullouter".r.findFirstIn(s).isDefined, s"no full-outer join:\n$s")
    // every exchange row carries md5(...) not text: text appears only in
    // scan/project nodes below the hash projection, so no Exchange line
    // should ship a bare `text` attribute
    val exchanges = s.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.matches(".*\\btext#\\d+.*")),
      s"an exchange ships raw document text:\n${exchanges.mkString("\n")}")
  }

  test("q99: calibration is ONE hash shuffle on source (no corpus self-join)") {
    val p = plan("q99_quality_calibration")
    val n = countHashShuffles(p)
    assert(n == 1, s"expected exactly 1 hash shuffle in calibration, got $n:\n$p")
    assert(!"(?i)join".r.findFirstIn(finalPlan(p.toString)).isDefined,
      s"calibration should not join the corpus to itself:\n$p")
  }

  test("q100: the 256-row model broadcasts; the corpus never self-joins") {
    val s = finalPlan(planString("q100_dsir_selection"))
    assert(s.contains("BroadcastHashJoin"), s"model join must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"a sort-merge join means a corpus-sized side shuffled:\n$s")
  }

  test("q110: corpus work is one hash shuffle to distinct-score counts") {
    // scan → margin map → groupBy(margin) is the only corpus-keyed
    // exchange; the ordered sweep and final reduction run over the
    // score-grid-bounded table (single-partition window + singlePartition
    // exchange — both scale with the score grid, never the corpus)
    val p = plan("q110_classifier_auc")
    val n = countHashShuffles(p)
    assert(n == 1, s"expected exactly 1 hash shuffle, got $n:\n$p")
    assert(!"(?i)join".r.findFirstIn(finalPlan(p.toString)).isDefined,
      s"AUC should never join:\n$p")
  }

  test("q111: the Gram matrix is ONE ObjectHashAggregate pass, no row explosion") {
    graft.plans.GraftExtensions.install(spark)
    val s = finalPlan(planString("q111_gram_matrix"))
    assert(s.contains("ObjectHashAggregate"),
      s"vec_gram must aggregate imperatively (typed buffer):\n$s")
    assert(s.contains("partial_vec_gram"),
      s"partials must combine map-side (mergeable aggregate):\n$s")
    // the d^2-explosion happens AFTER the single-row aggregate: exactly
    // one Generate (posexplode of the packed triangle), none before it
    val generates = "Generate".r.findAllIn(s).length
    assert(generates == 1, s"expected 1 post-agg Generate, got $generates:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastHashJoin"),
      s"gram must not join:\n$s")
  }

  test("q112: the audit join is a broadcast over top-k tables") {
    val s = finalPlan(planString("q112_ann_recall"))
    assert(s.contains("BroadcastHashJoin"),
      s"recall join must broadcast the 5*|queries|-row LSH side:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"a sort-merge join means a top-k side was treated as corpus-sized:\n$s")
  }

  test("q117: the HLL swap removes q107's Expand (no distinct row explosion)") {
    // q107's 5 exact multi-distincts force an Expand: scan rows x 5 into
    // the partial aggregate — the documented cost of exactness
    val exact = finalPlan(planString("q107_corpus_profile"))
    assert(exact.contains("Expand"),
      s"q107 should carry the exact-distinct Expand:\n$exact")
    // the approx profile aggregates constant-size HLL sketches instead:
    // no Expand anywhere, same single scan
    val approx = finalPlan(planString("q117_corpus_profile_approx"))
    assert(!approx.contains("Expand"),
      s"q117 must not expand rows (HLL sketches, not exact distincts):\n$approx")
    val scans = "Scan parquet".r.findAllIn(approx).length
    assert(scans == 1, s"q117 must profile in ONE corpus scan, got $scans:\n$approx")
  }

  test("q95/q101: the BPE application join broadcasts the Heaps-bounded vocab") {
    // measured round 13 (SCALING.md): as sort-merge this join shuffles AND
    // sorts the Zipf-skewed token stream — 30->100x exponent 1.41; the
    // head word is ~1/6 of the stream and one task straggles
    Seq("q95_bpe_tokenize", "q101_tokenizer_fertility").foreach { q =>
      val s = finalPlan(planString(q))
      assert(s.contains("BroadcastHashJoin"),
        s"$q: vocab join must broadcast:\n$s")
      assert(!s.contains("SortMergeJoin"),
        s"$q: token stream must never sort on the skewed word key:\n$s")
    }
  }

  test("q92: the candidate distinct shuffles id pairs only, fingerprints re-fetched") {
    graft.plans.GraftExtensions.install(spark)
    val s = finalPlan(planString("q92_media_phash_neardup"))
    // the distinct's exchange must carry exactly (media_a, media_b) — the
    // round-12 spelling dragged both 128-char fingerprints through it
    // (~4x the bytes per candidate); fingerprints now re-join from the
    // checkpointed table for the distinct survivors only
    val distinctEx = "Exchange hashpartitioning\\(media_a[^)]*media_b[^)]*\\)".r
    assert(distinctEx.findFirstIn(s).isDefined,
      s"expected a (media_a, media_b) distinct exchange:\n$s")
    distinctEx.findAllIn(s).foreach { ex =>
      assert(!ex.contains("fp"), s"fingerprint in the distinct exchange: $ex")
    }
  }

  test("q116: the projection is a literal-matrix narrow map before the output sort") {
    val s = finalPlan(planString("q116_pca_project"))
    assert(!s.contains("Join"), s"projection must not join:\n$s")
    // one range exchange for the presentation ORDER BY; nothing else wide
    val hashEx = "Exchange hashpartitioning".r.findAllIn(s).length
    assert(hashEx == 0, s"projection must not hash-shuffle:\n$s")
  }

  test("q127: anchor filter at the scan, all term joins broadcast, top-k via " +
      "WindowGroupLimit, the only nested-loop is the one-row stats cross") {
    // Building the plan executes q127's small eager postings checkpoint —
    // acceptable at the fixture SF (the audited shape is everything above
    // and below that barrier). exprIds stripped for literal matching.
    val s = planString("q127_bm25_retrieval").replaceAll("#\\d+L?", "")
    assert(!s.contains("CartesianProduct"), s"q127 went all-pairs:\n$s")
    assert(s.contains("(doc_id < 8)"),
      s"anchor predicate must reach the documents scan:\n$s")
    // the postings fan-out joins must hash-probe a broadcast on term —
    // never sort-merge the exploded token stream on the Zipf-skewed key
    assert(s.contains("BroadcastHashJoin [term"),
      s"term joins must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"token stream must never sort-merge on term:\n$s")
    // Spark 4's rank-limit pushdown: per-query top-k must pre-truncate
    // partially before the query_id shuffle, not globally sort scores
    assert(s.contains("WindowGroupLimit"),
      s"expected partial+final WindowGroupLimit for the top-k:\n$s")
    // the single permitted nested-loop: the one-row corpus-stats cross
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(s).length
    assert(bnlj <= 1, s"expected at most the one-row stats cross, got $bnlj:\n$s")
  }

  test("q133/q134: the BM25 plans stay small — the idf's ln is one compiled " +
      "node, never a re-expanding Column tree") {
    // Expression nodes summed over every operator of the optimized plan,
    // subqueries included. The Column-tree ln alone made the idf
    // projection 17,925 nodes (each reference to a shared intermediate
    // re-expands its subtree), re-walked by every optimizer pass.
    def exprNodes(name: String): Int =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
        .collectWithSubqueries { case n =>
          n.expressions.map(_.collect { case e => e }.size).sum
        }.sum
    for (q <- Seq("q133_retrieval_decontam", "q134_postings_decontam")) {
      val n = exprNodes(q)
      assert(n < 2000, s"$q's optimized plan has $n expression nodes")
    }
  }

  test("q134/q135: the registered index probes read their persisted tables " +
      "bucket-pruned — the corpus is never re-scanned for postings/signatures") {
    // building the plans runs ensureFor's one-time builds at the fixture SF
    val s134 = planString("q134_postings_decontam")
    assert(s134.contains("postings_decontam"),
      s"q134 must scan the persisted postings table:\n$s134")
    assert(s134.contains("SelectedBucketsCount"),
      s"q134's index scan must be bucket-pruned:\n$s134")
    val s135 = planString("q135_ann_index_probe")
    assert(s135.contains("ann_q135"),
      s"q135 must scan the persisted signature table:\n$s135")
    assert(s135.contains("SelectedBucketsCount"),
      s"q135's index scan must be bucket-pruned:\n$s135")
    val s137 = planString("q137_ivf_index_probe")
    assert(s137.contains("ivf_q137"),
      s"q137 must scan the persisted cell store:\n$s137")
    assert(s137.contains("SelectedBucketsCount"),
      s"q137's cell scan must be bucket-pruned:\n$s137")
    assert(!s137.contains("CartesianProduct"),
      s"q137's only cross join must be the broadcast 8-centroid ranking:\n$s137")
  }

  test("q136: the fully index-served hybrid reads BOTH persisted tables " +
      "bucket-pruned and fuses on a keyed full-outer — no corpus rescans, " +
      "no all-pairs joins") {
    val s = planString("q136_hybrid_index_serving")
    assert(s.contains("postings_hybrid") && s.contains("ann_q135"),
      s"q136 must scan both persisted index tables:\n$s")
    // every persisted-index scan prunes: at least one SelectedBucketsCount
    // per index family (the ann side's self-probe anchor fetch is the
    // documented un-pruned convenience scan)
    assert("SelectedBucketsCount".r.findAllIn(s).length >= 2,
      s"both q136 index probes must be bucket-pruned:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"q136 degraded to a cartesian product:\n$s")
    // the fusion is the q128 rule: a union of the two anchor-scale ranked
    // frames folded by one keyed aggregate (round 20 replaced the
    // full-outer join — three exchanges — with union + per-key max over
    // a single query_id exchange)
    assert(s.contains("Union"),
      s"q136's RRF fusion must be the union + keyed-aggregate fold:\n$s")
    assert(!s.contains("FullOuter"),
      s"q136's fusion regressed to the three-exchange full-outer join:\n$s")
  }

  test("q130: the curriculum window is keyed on (phase_order, shard) — never a " +
      "global corpus sort; the only broadcast-scale pieces are q129's control plane") {
    val s = planString("q130_curriculum_order").replaceAll("#\\d+L?", "")
    // the per-position window must partition on BOTH keys (2×16 groups,
    // parallel per-shard sorts); a missing key would serialize the corpus
    val winSpec = "windowspecdefinition\\(phase_order, shard,".r
    assert(winSpec.findFirstIn(s).isDefined,
      s"curriculum window must key on (phase_order, shard):\n$s")
    // no global ORDER BY anywhere below the presentation sort: exactly
    // one range exchange (the final ORDER BY), everything else hashed
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(finalPlan(s)).length
    assert(rangeEx == 1, s"expected only the presentation range exchange, got $rangeEx:\n$s")
  }

  test("q131: scoring is one keyed aggregation over the cached feature " +
      "table with the weights as a literal array — no model join, no corpus " +
      "self-join, no exchange below the presentation sort") {
    // Round 21 moved the scoring pass INSIDE the builder (an eager
    // checkpoint lets the feature-table cache unpersist deterministically
    // — the registered frame is now a checkpoint scan + presentation
    // sort), so the pin targets the scoring FRAME the builder executes:
    // margins over the cached (doc, y, bucket, n) table. Round 20's
    // invariant is unchanged — InMemoryRelation preserves the
    // hash(doc_id) layout (a LogicalRDD under AQE reports
    // UnknownPartitioning), so the scoring aggregation runs exchange-free.
    val db = Text.perceptronDb(spark, graft.Tables.documents(spark, sfDir))
    try {
      db.count() // materialize the cache, as the builder does
      val scoring = db.groupBy("doc_id", "y")
        .agg(org.apache.spark.sql.functions.sum(
          col("n") * org.apache.spark.sql.functions.element_at(
            org.apache.spark.sql.functions.typedLit(Array.fill(256)(1L)),
            (col("bucket") + 1).cast("int"))).as("margin"))
      val s = scoring.queryExecution.executedPlan.toString
        .replaceAll("#\\d+L?", "")
      assert(!s.contains("Join"), s"final scoring must not join:\n$s")
      assert(s.contains("InMemoryTableScan"),
        s"scoring must read the cached feature table:\n$s")
      assert(s.contains("element_at"),
        s"weights must be a literal-array lookup, not a joined table:\n$s")
      // ZERO exchanges in the scoring aggregation: it reuses the cached
      // hash(doc_id) layout (the exchanges inside the InMemoryRelation's
      // own build plan don't count; they run once at materialization)
      val tail = s.split("InMemoryRelation").head
      assert(!"hashpartitioning".r.findFirstIn(tail.toLowerCase).isDefined,
        s"margin aggregation must reuse the cached hash(doc_id) layout:\n$s")
      // and the registered row still ends in the presentation sort with
      // the weights literal burned into its checkpointed build
      val reg = planString("q131_classifier_train")
      assert("rangepartitioning".r.findAllIn(reg.toLowerCase).nonEmpty,
        s"presentation sort must range-partition:\n$reg")
    } finally db.unpersist()
  }

  test("q128: the fusion is a union + keyed-aggregate fold of two " +
      "anchor-scale frames over ONE query_id exchange") {
    val s = planString("q128_hybrid_rrf")
    assert(!s.contains("CartesianProduct"), s"q128 went all-pairs:\n$s")
    // round 20: the full-outer equi-join spelling cost three exchanges
    // (co-partitioning requires all join keys); the union + per-key max
    // fold shares a single query_id exchange with the fused window
    assert(!s.contains("FullOuter"),
      s"q128's fusion regressed to the three-exchange full-outer join:\n$s")
    assert(s.contains("Union"), s"expected the union fusion spelling:\n$s")
    val fuseExchanges = "hashpartitioning\\(query_id".r.findAllIn(s).length
    assert(fuseExchanges >= 1, s"fusion must exchange by query_id:\n$s")
  }
}
