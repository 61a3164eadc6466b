package graft.queries

import graft.{GraftQuery, Tables}
import graft.plans.GraftExtensions.kernel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation composites — the operators a production training-data
  * pipeline runs BETWEEN the primitive dedup passes (`Dedup`) and the
  * mixture/packing stages (`Sampling`): exact segment-level dedup of the
  * corpus text itself (C4 / RefinedWeb style), Bloom-gated incremental
  * ingestion against a sealed corpus, and duplicate-cluster resolution into
  * a kept-representative set. Reference analogue: the processed-trace
  * cache (`converter/cache_manager.py:44-108`) is the reference's
  * incremental-ingestion dedup (J7 anti-join); q81 is its at-scale
  * generalization. q80/q82 follow the published curation recipes (Raffel
  * et al., JMLR'20 C4 §2.2 three-sentence-span dedup; Penedo et al., 2023
  * RefinedWeb §4.2 exact line dedup; Lee et al., ACL'22 keep-first
  * policy).
  *
  * Oracle-parity rules are the Dedup family's: md5 for content keys,
  * integer-derived arithmetic, deterministic final ORDER BY.
  */
object Curation {

  /** Q80: exact SEGMENT-level dedup — the C4/RefinedWeb "line dedup"
    * adapted to this corpus's newline-free text: a "line" is a run of 8
    * consecutive tokens (last segment per doc may be shorter). A segment
    * occurrence is dropped iff its exact content occurs >= 3 times
    * corpus-wide AND it is not the globally first occurrence (first =
    * smallest (doc_id, pos) — the ACL'22 keep-first policy, so every
    * distinct segment survives somewhere). Output: per document, segment
    * counts and the cleaned text reassembled from kept segments in order.
    *
    * Scale shape: TWO corpus passes — the C4 shape (count pass, then
    * rewrite pass): the plan re-scans and re-explodes the columnar
    * source for the stats aggregate and for the join probe side rather
    * than materializing the exploded segment stream behind a checkpoint
    * barrier, because at 100 TB re-reading compressed parquet twice is
    * cheaper than writing + reading the (larger-than-source) row-format
    * segment stream to executor scratch. The stats pass is a groupBy on
    * the segment CONTENT — an unbounded keyspace whose occupancy is true
    * repetition — aggregating count + min(struct(doc_id, pos)) with
    * map-side partial agg; the rewrite pass joins back on segment and
    * groupBys doc_id to reassemble. The agg+join spelling is deliberate over a
    * window: min(struct) partial-aggregates (a 10⁹-occurrence boilerplate
    * segment reduces map-side instead of sorting one hot window
    * partition), and AQE can skew-split a join but NOT a window — at
    * sf0.1 AQE broadcasts the compact per-segment stats table outright.
    * The reassembly groupBy keys on doc_id; per-doc state is bounded by
    * document length. */
  private val q80 = GraftQuery(
    "q80_segment_dedup",
    (spark, dir) => {
      val segs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, (size(toks)-1) div 8), " +
            "i -> concat_ws(' ', slice(toks, i*8+1, 8)))")))
        .toDF("doc_id", "pos", "seg")
      val stats = segs.groupBy("seg").agg(
        count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      segs.join(stats, "seg")
        .withColumn("keep",
          col("cnt") < 3 ||
            (col("first.doc_id") === col("doc_id") && col("first.pos") === col("pos")))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_seg"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
          array_join(
            transform(
              array_sort(collect_list(when(col("keep"),
                struct(col("pos"), col("seg"))))),
              x => x.getField("seg")),
            " ").as("clean_text"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      seg AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(toks[(i-1)*8+1:(i-1)*8+8], ' ') AS seg
        FROM t, unnest(generate_series(1, (len(toks)-1)//8 + 1)) u(i)),
      m AS (
        SELECT doc_id, pos, seg,
               count(*) OVER (PARTITION BY seg) AS cnt,
               row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
        FROM seg)
      SELECT doc_id,
             count(*) AS n_seg,
             CAST(sum(CASE WHEN cnt >= 3 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
             coalesce(array_to_string(
               list_transform(
                 list_sort(list({'p': pos, 's': seg}) FILTER (WHERE cnt < 3 OR rn = 1)),
                 x -> x.s),
               ' '), '') AS clean_text
      FROM m GROUP BY doc_id ORDER BY doc_id"""),
    headline = true)

  /** Q81: Bloom-gated INCREMENTAL dedup — admit the documents of an
    * incoming batch whose content fingerprint (q23's order-insensitive
    * bag-of-words md5, the F18 cache-key analogue) is unseen in a sealed
    * corpus. This is the ingestion-time pattern behind the reference's
    * processed-trace cache (J7, `cache_manager.py:44-108`) at corpus
    * scale: a Bloom filter over the sealed corpus's keys prunes the
    * membership test to a scan-local, codegen'd probe
    * (Spark's own `BloomFilterMightContain` — registered as
    * `bloom_might_contain`, fed by `DataFrame.stat.bloomFilter` bytes);
    * only the probe's POSITIVES (true dups + fpp·|batch| false positives)
    * reach the exact anti-join that decides them. Blooms have no false
    * negatives, so the miss path admits without any join — output is
    * EXACT, the sketch only routes.
    *
    * Scale shape: at 100 TB the bloom is built once per sealed snapshot
    * (it is mergeable across partitions — `stat.bloomFilter` already
    * aggregates it that way) and persisted beside the corpus, and the
    * corpus KEY table (fp only, one narrow column) is kept bucketed by fp
    * (`sources/Bucketing.scala`) so the anti-join shuffles NOTHING on the
    * corpus side; the probe side entering that join is dup-rate-sized
    * thanks to the bloom, and the batch's miss majority never joins at
    * all. The inline build here scans the sealed keys once (plus a count
    * for sizing); ~1.2 KB of bits per 1 000 keys at fpp 0.01 rides to
    * executors as a literal. */
  /** Bag-of-words content fingerprint (order-insensitive), ONE definition
    * shared by q81's bloom gate and the q124 ingest gate (both dialects):
    * md5 of the sorted distinct token list. */
  private[graft] def bowFingerprint: org.apache.spark.sql.Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))

  private[queries] val bowFingerprintSql: String =
    "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))"

  private val q81 = GraftQuery(
    "q81_bloom_incremental_dedup",
    (spark, dir) => {
      val fp = bowFingerprint
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 7).select(fp.as("fp"))
      val batch = docs.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), fp.as("fp"))
      val bf = corpus.select(xxhash64(col("fp")).as("h"))
        .stat.bloomFilter("h", math.max(corpus.count(), 1L), 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val hit = kernel("bloom_might_contain",
        lit(bos.toByteArray), xxhash64(col("fp")))
      val admitted = batch.filter(!hit)
        .unionByName(batch.filter(hit).join(corpus, Seq("fp"), "left_anti")
          .select(col("doc_id"), col("fp")))
      admitted.select(col("doc_id"), col("fp")).orderBy("doc_id")
    },
    Some(s"""
      WITH fp AS (
        SELECT doc_id, $bowFingerprintSql AS fp
        FROM documents)
      SELECT b.doc_id, b.fp FROM fp b
      WHERE b.doc_id % 10 = 7
        AND NOT EXISTS (SELECT 1 FROM fp c WHERE c.doc_id % 10 <> 7 AND c.fp = b.fp)
      ORDER BY doc_id"""),
    headline = true)

  /** Q82: duplicate-cluster REPRESENTATIVE selection — the decision stage
    * of the fuzzy-dedup pipeline: resolve q30's verified near-dup pairs
    * into clusters (q36's min-label propagation) and keep, per cluster,
    * the member with the highest q21 quality score (ties to the smallest
    * doc_id). Published pipelines pick a keep-document per duplicate
    * cluster exactly this way (RefinedWeb §4.2; SemDeDup keeps one per
    * semantic cluster); scoring the keep choice beats keep-first when
    * duplicates differ in quality. Output: one row per cluster with its
    * size and chosen representative. Unclustered documents are implicitly
    * kept and not re-listed.
    *
    * Scale shape: inherits q36's bounds (one keyed shuffle per
    * propagation round, throws rather than truncating); the ranking joins
    * cluster labels (near-dup-density sized, ≪ corpus) to the quality
    * scores by doc_id, then one window partitioned by cluster — both
    * window specs share the cluster-key exchange, and row_number's top-1
    * compiles to the map-side WindowGroupLimit so only one row per
    * cluster crosses the final wire. */
  private val q82 = GraftQuery(
    "q82_cluster_representatives",
    (spark, dir) => {
      val labels = Dedup.resolveClusters(
        Dedup.minhashPairs(spark, dir).select("doc_a", "doc_b"))
      val qual = Text.qualityScored(spark, dir)
        .select(col("doc_id"), col("quality_score"))
      val w = Window.partitionBy("canonical")
      labels.join(qual, "doc_id")
        .withColumn("n_members", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(
          w.orderBy(col("quality_score").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("canonical").as("cluster"), col("n_members"),
          col("doc_id").as("rep_doc"), col("quality_score").as("rep_quality"))
        .orderBy("cluster")
    },
    Some(s"""
      WITH RECURSIVE ${Dedup.minhashPairsSql},
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
      ${Text.qualityScoredSql},
      ranked AS (
        SELECT l.canonical, l.doc_id, q.quality_score,
               row_number() OVER (PARTITION BY l.canonical
                 ORDER BY q.quality_score DESC, l.doc_id) AS rn,
               count(*) OVER (PARTITION BY l.canonical) AS n_members
        FROM labels l JOIN quality q ON q.doc_id = l.doc_id)
      SELECT canonical AS cluster, n_members, doc_id AS rep_doc,
             quality_score AS rep_quality
      FROM ranked WHERE rn = 1
      ORDER BY cluster"""),
    headline = true)

  /** Q83: sliding-window CHUNKING with overlap — the pretraining prep
    * step between cleaning and packing: split each document into windows
    * of at most 32 tokens advancing by a 24-token stride (8-token
    * overlap), the `return_overflowing_tokens` semantics of the standard
    * tokenizer APIs: windows start at 0, S, 2S, … while the start is
    * inside the document, and the last windows may be short. Overlap
    * preserves cross-boundary context for next-token training; q53
    * packing consumes such chunks when documents exceed the sequence
    * budget. Output: one row per chunk with its token count and content
    * md5 (content itself stays in the engine; the hash is the
    * cache/dedup key downstream stages join on, F18-style).
    *
    * Scale shape: a narrow per-row transform + posexplode — corpus-linear.
    * The only exchanges are the explicit scan-parallelism repartition
    * (the testdata is one file; a real corpus arrives pre-split) and the
    * final presentation ORDER BY — the library form is the unordered
    * chunk stream. Chunk boundaries are pure
    * integer arithmetic on token positions, so the operator parallelizes
    * per document with zero coordination; skew is bounded by max document
    * length (a 10⁶-token outlier yields ~4·10⁴ rows from one input row —
    * flatMap-shaped, absorbed by the explode). */
  private val q83 = GraftQuery(
    "q83_overlap_chunks",
    (spark, dir) => {
      val L = 32
      val S = 24
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("n"), posexplode(expr(
          s"transform(sequence(0, cast(ceil(n / $S.0) as int) - 1), " +
            s"i -> concat_ws(' ', slice(toks, i*$S+1, $L)))")))
        .toDF("doc_id", "n", "chunk_id", "chunk")
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          least(lit(L), col("n") - col("chunk_id") * S).cast("long")
            .as("n_tok_chunk"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents),
      c AS (
        SELECT doc_id, n, i - 1 AS chunk_id,
               array_to_string(toks[(i-1)*24+1:(i-1)*24+32], ' ') AS chunk
        FROM t, unnest(generate_series(1, CAST(ceil(n / 24.0) AS BIGINT))) u(i))
      SELECT doc_id, chunk_id,
             least(32, n - chunk_id * 24) AS n_tok_chunk,
             md5(chunk) AS chunk_md5
      FROM c ORDER BY doc_id, chunk_id"""),
    headline = true)

  /** Q90: token-budget shard assignment + manifest — the EXPORT step
    * that closes the curation pipeline: after cleaning (q80), dedup
    * (q30/q36), mixing (q56) and splitting (q59), the surviving
    * documents are written out as training shards of ≈B tokens each.
    * Unlike q53 (which CUTS the token stream into fixed sequences,
    * splitting documents), sharding keeps documents WHOLE: within each
    * source, documents in stable doc_id order are greedily binned —
    * a document opens a new shard when the tokens before it have filled
    * the current budget (shard = floor(preceding_tokens / B)), so every
    * shard holds ≥B tokens except its source's last. The emitted
    * manifest row per (source, shard) — doc count, token count, doc_id
    * range — is what a training loader consumes to schedule reads
    * without touching the data; [[writeShards]] performs the actual
    * partitioned parquet write (spec-pinned; a filesystem layout is not
    * SQL-expressible).
    *
    * Scale shape: identical to q53's — ONE shuffle on the stream key
    * `source` for the window prefix-sum, then integer math and a
    * partial-agg groupBy on the same key (no second exchange until the
    * tiny manifest sort). Mega-source skew has q53's documented fix:
    * shard the stream key to (source, hash(doc_id) % k); shard identity
    * is loader-local, so per-k boundary drift is tolerated. */
  private val q90 = {
    val budget = 2048L
    GraftQuery(
      "q90_token_shards",
      (spark, dir) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("shard", floor((col("cum") - col("n_tok")) / budget))
          .groupBy(col("source"), col("shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("source", "shard")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT doc_id, source, n_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM d)
        SELECT source, (cum - n_tok) // $budget AS shard,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM c
        GROUP BY source, shard
        ORDER BY source, shard"""),
    headline = true)
  }

  /** q90's writer half: materialize the shard assignment as a
    * hive-partitioned parquet layout `source=<s>/shard=<n>/…` under
    * `outDir`. Partitioned-write layout is exercised by CurationSpec
    * (one directory per manifest row, doc counts matching). At scale the
    * write inherits the window's HashPartitioning(source), so each shard
    * directory is produced by the executor that already holds its rows;
    * `maxRecordsPerFile` bounds individual file size inside a shard. */
  def writeShards(spark: org.apache.spark.sql.SparkSession, dir: String,
      outDir: String, budget: Long = 2048L): Unit =
    writeShardsOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text")), outDir, budget)

  /** [[writeShards]] over an arbitrary (doc_id, source, text, …) frame —
    * extra columns (e.g. the composite's `repeats`) ride into the shard
    * store; the q124 composite exports its train split through this
    * exact writer ([[CurationPipeline.exportTrainShards]]). */
  def writeShardsOf(docs: org.apache.spark.sql.DataFrame,
      outDir: String, budget: Long = 2048L): Unit = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("shard", floor((col("cum") - col("n_tok")) / budget))
      .drop("cum")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100000)
      .partitionBy("source", "shard")
      .parquet(outDir)
  }

  /** [[writeShardsOf]]'s reader half — the LOADER side that closes the
    * export loop: the hive layout (`source=<s>/shard=<n>/…`) back as one
    * frame carrying every exported column plus the two partition
    * columns. Partition discovery infers `shard` directory values as
    * int; normalize to long so the loader sees the manifest's (q90)
    * type. Downstream: feed [[Sampling.epochShuffleOn]] (or
    * [[Sampling.epochScheduleOn]] when the store carries `repeats`) to
    * derive each epoch's read order — spec-pinned to match the schedule
    * computed on the pre-export frame, so export → read loses nothing
    * the loader needs.
    *
    * Scale shape: shard/source pruning is free (partition columns), so
    * a loader worker reading its assigned shards scans only their
    * directories; no shuffle until the consumer adds one. */
  def readShards(spark: org.apache.spark.sql.SparkSession,
      shardDir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(shardDir)
      .withColumn("shard", col("shard").cast("long"))

  /** Q91: per-domain frequency capping — the quota rule crawl-scale
    * curation applies so no single site dominates the corpus (Penedo et
    * al., 2023 RefinedWeb §3.2 url-level filtering; Rae et al., 2021
    * Gopher/MassiveText §A.1.2 cap heavily-represented domains): keep at
    * most K documents per domain, chosen deterministically by quality
    * rank (longer docs first; doc_id ties). The corpus has no URL
    * column, so the domain key is synthesized q66-style —
    * floor(sqrt(doc_id mod 10⁴)) — giving ~2k+1 docs for domain k, a
    * linearly-skewed distribution the cap actually bites on (domains
    * ≥ K·… docs lose their tail). Output: the per-domain audit a
    * curation run reports — doc/kept counts and char volumes.
    *
    * Scale shape: one shuffle on domain for the rank window, then a
    * partial-agg groupBy on the SAME key (no second exchange). The
    * window sorts each domain partition; for a 10⁹-doc mega-domain the
    * documented alternative is the q54 two-phase heap (per-partition
    * top-K then merge), which bounds memory at O(K) per domain — the
    * window spelling is kept because the audit also needs the DROPPED
    * volume, which a heap discards. Integer arithmetic and IEEE sqrt on
    * exact integers keep the domain key bit-stable across engines. */
  private val q91 = {
    val cap = 20
    GraftQuery(
      "q91_domain_cap",
      (spark, dir) => {
        val w = Window.partitionBy("domain")
          .orderBy(col("n_chars").desc, col("doc_id"))
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("n_chars"),
            floor(sqrt((col("doc_id") % 10000).cast("double")))
              .cast("long").as("domain"))
          .withColumn("r", row_number().over(w))
          .groupBy("domain")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("r") <= cap, 1L).otherwise(0L)).as("n_kept"),
            sum(col("n_chars")).as("chars_total"),
            sum(when(col("r") <= cap, col("n_chars")).otherwise(0L))
              .as("chars_kept"))
          .orderBy("domain")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, n_chars,
                 CAST(floor(sqrt(CAST(doc_id % 10000 AS DOUBLE))) AS BIGINT) AS domain
          FROM documents),
        r AS (
          SELECT doc_id, n_chars, domain,
                 row_number() OVER (PARTITION BY domain
                   ORDER BY n_chars DESC, doc_id) AS r
          FROM d)
        SELECT domain, count(*) AS n_docs,
               CAST(sum(CASE WHEN r <= $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS chars_total,
               CAST(sum(CASE WHEN r <= $cap THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
        FROM r
        GROUP BY domain
        ORDER BY domain"""),
    headline = true)
  }

  /** Q98: crawl-over-crawl snapshot DIFF — the incremental-ingestion audit
    * every recurring-crawl corpus runs before reprocessing (CommonCrawl
    * snapshot-over-snapshot: most pages recur verbatim, some change, some
    * appear/vanish — Penedo et al., 2023 RefinedWeb §3.1 processes crawls
    * snapshot-wise for exactly this reason): align two corpus snapshots on
    * the stable document key, compare CONTENT hashes (F18-style md5 — the
    * engines never ship text across the join, only 32-byte keys), and
    * report per (source, status ∈ added/removed/changed/unchanged) doc
    * counts and token volumes. Downstream, only `added`+`changed` re-enter
    * the cleaning/dedup pipeline — the diff is what makes a 100 TB
    * recurring corpus an incremental workload instead of a full reprocess.
    *
    * Both snapshots derive deterministically from the one driver table
    * (v1 drops doc_id%17==3, v2 drops doc_id%13==5 and revises
    * doc_id%7==2 by appending a token), so every status is exercised and
    * the oracle replays the same derivation.
    *
    * Scale shape: ONE full-outer hash join keyed on doc_id — each side
    * reduced to (key, source, hash, token_count) at the scan, so the
    * shuffled width is ~50 bytes/doc regardless of document size — then a
    * partial-agg groupBy on (source, status), output bounded by
    * |sources|×4. At 100 TB both snapshots would live bucketed by the key
    * (`sources/Bucketing.scala`) making the join co-located and
    * shuffle-free; nothing else exceeds audit size. */
  private val q98 = GraftQuery(
    "q98_snapshot_diff",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val v1 = docs.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"), col("source").as("source1"),
          md5(col("text")).as("h1"),
          size(split(col("text"), " ")).cast("long").as("tok1"))
      val v2 = docs.filter(col("doc_id") % 13 =!= 5)
        .withColumn("text2", when(col("doc_id") % 7 === 2,
          concat(col("text"), lit(" rev"))).otherwise(col("text")))
        .select(col("doc_id"), col("source").as("source2"),
          md5(col("text2")).as("h2"),
          size(split(col("text2"), " ")).cast("long").as("tok2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(
          coalesce(col("source1"), col("source2")).as("source"),
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") === col("h2"), "unchanged")
            .otherwise("changed").as("status"),
          coalesce(col("tok1"), lit(0L)).as("tok1"),
          coalesce(col("tok2"), lit(0L)).as("tok2"))
        .groupBy("source", "status")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tok1")).as("tokens_v1"),
          sum(col("tok2")).as("tokens_v2"))
        .withColumn("token_delta", col("tokens_v2") - col("tokens_v1"))
        .orderBy("source", "status")
    },
    Some("""
      WITH v1 AS (
        SELECT doc_id, source, md5(text) AS h1,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tok1
        FROM documents WHERE doc_id % 17 <> 3),
      v2 AS (
        SELECT doc_id, source,
               md5(CASE WHEN doc_id % 7 = 2 THEN text || ' rev' ELSE text END) AS h2,
               CAST(len(string_split(CASE WHEN doc_id % 7 = 2
                 THEN text || ' rev' ELSE text END, ' ')) AS BIGINT) AS tok2
        FROM documents WHERE doc_id % 13 <> 5),
      d AS (
        SELECT coalesce(v1.source, v2.source) AS source,
               CASE WHEN h1 IS NULL THEN 'added'
                    WHEN h2 IS NULL THEN 'removed'
                    WHEN h1 = h2 THEN 'unchanged'
                    ELSE 'changed' END AS status,
               coalesce(tok1, 0) AS tok1, coalesce(tok2, 0) AS tok2
        FROM v1 FULL OUTER JOIN v2 USING (doc_id))
      SELECT source, status, count(*) AS n_docs,
             CAST(sum(tok1) AS BIGINT) AS tokens_v1,
             CAST(sum(tok2) AS BIGINT) AS tokens_v2,
             CAST(sum(tok2) - sum(tok1) AS BIGINT) AS token_delta
      FROM d GROUP BY source, status
      ORDER BY source, status"""),
    headline = true)

  /** Q99: per-source quality CALIBRATION — raw quality scores (q21) are
    * not comparable across sources (a web-scrape's median differs from a
    * books corpus's), so production filters threshold on the score's
    * PERCENTILE WITHIN ITS SOURCE, not its absolute value (CCNet buckets
    * per-language perplexity into head/middle/tail tertiles exactly this
    * way — Wenzek et al., LREC'20 §4.4; C4 derives per-heuristic cutoffs
    * per corpus). Emits every document's calibrated percentile
    * (percent_rank over (quality_score, doc_id) — the doc_id tiebreak
    * makes ranks, hence percentiles, engine-deterministic) and the
    * bottom-quartile drop verdict: kept=1 iff pct >= 0.25 — a uniform
    * 25% trim of EVERY source, regardless of score distributions.
    *
    * Scale shape: the q21 scoring is a narrow scan-fused map; calibration
    * is ONE shuffle on source + a per-source sort. percent_rank needs
    * each source's n — for a mega-source where one sorted partition hurts,
    * the documented rewrite is q19's banded offsets (count per score band
    * to the driver, broadcast cumulative offsets back); the window
    * spelling is kept because sources in a curated corpus are
    * catalog-bounded while DOCUMENTS are not — the skewed dimension
    * parallelizes, the sorted one doesn't grow. */
  private val q99 = GraftQuery(
    "q99_quality_calibration",
    (spark, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("quality_score"), col("doc_id"))
      Text.qualityScored(spark, dir)
        .select(col("doc_id"), col("source"), col("quality_score"))
        .withColumn("pct", percent_rank().over(w))
        .withColumn("kept",
          when(col("pct") >= 0.25, 1).otherwise(0).cast("int"))
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("pct"), col("kept"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH ${Text.qualityScoredSql}
      SELECT q.doc_id, d.source, q.quality_score,
             percent_rank() OVER (PARTITION BY d.source
               ORDER BY q.quality_score, q.doc_id) AS pct,
             CAST(CASE WHEN percent_rank() OVER (PARTITION BY d.source
               ORDER BY q.quality_score, q.doc_id) >= 0.25
               THEN 1 ELSE 0 END AS INTEGER) AS kept
      FROM quality q JOIN documents d USING (doc_id)
      ORDER BY doc_id"""),
    headline = true)

  /** Q104: data-constrained REPEAT tiers — when the curated corpus is
    * smaller than the compute budget wants, repeating data up to ~4
    * epochs costs almost nothing versus fresh data (Muennighoff et al.,
    * NeurIPS'23, arXiv 2305.16264, "Scaling Data-Constrained Language
    * Models" — public paper), and pipelines spend those repeats on their
    * BEST documents: this query assigns each document a repeat count
    * from its calibrated quality quartile (q99's per-source percentile —
    * top quartile ×4, then ×2, ×1, and the bottom quartile dropped, the
    * q99 gate) and emits the per-(source, tier) doc/token accounting plus
    * the effective-token budget the schedule buys. Feeding q102's epoch
    * shuffle with these multiplicities is the planned training mix.
    *
    * Scale shape: q99's exactly — the calibration window's one shuffle on
    * source; the tier rollup partial-aggregates onto the same key
    * (sources × 4 output rows). */
  private val q104 = GraftQuery(
    "q104_repeat_tiers",
    (spark, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("quality_score"), col("doc_id"))
      Text.qualityScored(spark, dir)
        .select(col("doc_id"), col("source"),
          col("n_tokens").cast("long").as("n_tokens"), col("quality_score"))
        .withColumn("pct", percent_rank().over(w))
        .withColumn("repeats",
          when(col("pct") >= 0.75, 4L).when(col("pct") >= 0.5, 2L)
            .when(col("pct") >= 0.25, 1L).otherwise(0L))
        .groupBy("source", "repeats")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
        .withColumn("effective_tokens", col("repeats") * col("tokens"))
        .orderBy("source", "repeats")
    },
    Some(s"""
      WITH ${Text.qualityScoredSql},
      cal AS (
        SELECT q.doc_id, d.source, CAST(q.n_tokens AS BIGINT) AS n_tokens,
               percent_rank() OVER (PARTITION BY d.source
                 ORDER BY q.quality_score, q.doc_id) AS pct
        FROM quality q JOIN documents d USING (doc_id)),
      tier AS (
        SELECT source, n_tokens,
               CAST(CASE WHEN pct >= 0.75 THEN 4 WHEN pct >= 0.5 THEN 2
                    WHEN pct >= 0.25 THEN 1 ELSE 0 END AS BIGINT) AS repeats
        FROM cal)
      SELECT source, repeats, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS tokens,
             CAST(repeats * sum(n_tokens) AS BIGINT) AS effective_tokens
      FROM tier GROUP BY source, repeats
      ORDER BY source, repeats"""),
    headline = true)

  /** Q109: dedup SAVINGS report — the per-source accounting a curation
    * run publishes after the fuzzy sweep: with q36's clusters resolved
    * and q82's keep-best-representative decision applied, how many
    * documents and tokens does each source actually lose? (The number
    * in every dataset paper's dedup table — e.g. RefinedWeb §4.2 reports
    * exactly this removal accounting per stage.) Cluster members other
    * than the chosen representative count as dropped; singletons and
    * representatives are kept.
    *
    * Scale shape: q36's resolution bounds plus q82's cluster-keyed rank
    * window (both density-sized, ≪ corpus); the corpus itself is touched
    * once more by a left join against the dropped-doc table and a
    * partial-agg groupBy on source. Token conservation
    * (kept + dropped = total) is spec-pinned. */
  private val q109 = GraftQuery(
    "q109_dedup_savings",
    (spark, dir) => {
      val labels = Dedup.resolveClusters(
        Dedup.minhashPairs(spark, dir).select("doc_a", "doc_b"))
      val qual = Text.qualityScored(spark, dir)
        .select(col("doc_id"), col("source"),
          col("n_tokens").cast("long").as("n_tok"), col("quality_score"))
      val w = Window.partitionBy("canonical")
        .orderBy(col("quality_score").desc, col("doc_id"))
      val dropped = labels.join(qual, "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1)
        .select(col("doc_id"), lit(1L).as("is_dropped"))
      qual.join(dropped, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"),
          sum(col("n_tok")).as("tokens_total"),
          sum(when(col("is_dropped").isNotNull, col("n_tok")).otherwise(0L))
            .as("tokens_dropped"))
        .withColumn("tokens_kept", col("tokens_total") - col("tokens_dropped"))
        .orderBy("source")
    },
    Some(s"""
      WITH RECURSIVE ${Dedup.minhashPairsSql},
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
      ${Text.qualityScoredSql},
      ranked AS (
        SELECT l.doc_id,
               row_number() OVER (PARTITION BY l.canonical
                 ORDER BY q.quality_score DESC, l.doc_id) AS rn
        FROM labels l JOIN quality q USING (doc_id)),
      d AS (
        SELECT doc.doc_id, doc.source, CAST(q.n_tokens AS BIGINT) AS n_tok,
               CASE WHEN r.rn > 1 THEN 1 ELSE 0 END AS dropped
        FROM documents doc
        JOIN quality q USING (doc_id)
        LEFT JOIN ranked r ON r.doc_id = doc.doc_id)
      SELECT source, count(*) AS n_docs,
             CAST(sum(dropped) AS BIGINT) AS n_dropped,
             CAST(sum(n_tok) AS BIGINT) AS tokens_total,
             CAST(sum(CASE WHEN dropped = 1 THEN n_tok ELSE 0 END) AS BIGINT)
               AS tokens_dropped,
             CAST(sum(n_tok) - sum(CASE WHEN dropped = 1 THEN n_tok ELSE 0 END)
               AS BIGINT) AS tokens_kept
      FROM d GROUP BY source ORDER BY source"""),
    headline = true)

  /** The ITERATED ingest loop kernel — q81's bloom-gated admission run
    * over a SEQUENCE of batches where each epoch's admissions become
    * sealed corpus for the next (the production ingestion loop q124's
    * single-shot gate stands in for). Pure driver-side iteration over
    * lazy frames; each epoch's admitted set is a materialized stage
    * boundary (localCheckpoint) because epoch k+1's anti-join and the
    * final union both consume it.
    *
    * Admission rule per epoch: a document is admitted iff its content
    * fingerprint is (a) unseen in the sealed set entering the epoch and
    * (b) first within its own batch (smallest doc_id wins — Lee et al.,
    * ACL'22 keep-first). The bloom routes exactly as in q81: misses admit
    * without joining (no false negatives), only probe POSITIVES reach
    * the exact anti-join, so output is exact and the sketch only routes.
    *
    * BLOOM-REFRESH COST STORY: the filter is sized ONCE for the final
    * capacity (sealed + every future batch, `fpp` 0.01 at that fill), so
    * each epoch's refresh builds a DELTA filter over only that epoch's
    * admitted rows — same (numBits, numHashes) by construction, merged
    * driver-side by bit-OR (`BloomFilter.mergeInPlace`). The sealed
    * corpus is scanned exactly once (epoch 0); per-epoch cost is
    * O(|batch|) probe + O(|admitted|) delta build, never O(|sealed|).
    * Under-estimating capacity only degrades fpp (more exact-join
    * traffic), never correctness. At 100 TB the sealed fp table is kept
    * bucketed by fp (`sources/Bucketing.scala`) and each epoch APPENDS
    * its admitted fps to those buckets, so the exact anti-join shuffles
    * nothing on the corpus side in any epoch; the running filter
    * persists beside the corpus as ~1.2 KB per 1 000 keys. That rate
    * bounds the single-filter regime: at fpp 0.01 a 10⁹-key capacity is
    * a ~1.2 GB filter — deliverable only as a broadcast VARIABLE, which
    * is what [[bloomHitCol]] routes to past its 16 MB plan-literal
    * ceiling (a literal rides in every referencing stage's serialized
    * task binary); that is the single-filter ceiling — past it,
    * split the filter ALONG THE EXISTING fp BUCKETS (one bloom per
    * bucket of the sealed table, probed after the same hash routes the
    * row to its bucket) so each piece stays executor-sized and delta
    * merges stay per-bucket. Raising fpp is the cheaper lever first:
    * the filter only routes, so 0.1 fpp just sends 10× more (still few)
    * rows to the exact join at half the bits.
    *
    * The growing sealed side is a UNION of the epoch-0 checkpoint and
    * each epoch's admitted checkpoint — k materialized scans, zero
    * re-materialization of the whole set per epoch.
    *
    * @param sealedFps0 sealed corpus fingerprints entering epoch 1 —
    *                   one `fp` column
    * @param batches    per-epoch (doc_id, fp) frames, epoch order
    * @param capacity   bloom sizing: expected |sealed ∪ all batches| */
  /** The ingest loop's RESUMABLE state: the sealed fingerprint set, the
    * running bloom, and the capacity it was sized at (new delta blooms
    * must share (numBits, numHashes) to stay mergeable, and those derive
    * from capacity+fpp). [[saveIngestState]]/[[loadIngestState]] persist
    * it between RUNS — a production crawl ends each run by saving and
    * opens the next by loading, so no run ever re-derives the sealed
    * corpus; q126's in-process loop is the same fold without the disk
    * round-trip. */
  final case class IngestState(sealedFps: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter, capacity: Long)

  private def deltaBloomOf(fps: DataFrame, capacity: Long) = {
    val h = fps.select(xxhash64(col("fp")).as("h"))
    // an ALL-REJECTED epoch admits zero rows, and stat.bloomFilter's
    // zero-row aggregate returns a null buffer (NPE in readFrom) — found
    // by IdempotentIngestSpec's all-duplicate batch; an empty filter at
    // the same (capacity, fpp) sizing is the correct mergeable identity
    if (h.isEmpty)
      org.apache.spark.util.sketch.BloomFilter.create(
        math.max(capacity, 1L), 0.01)
    else h.stat.bloomFilter("h", math.max(capacity, 1L), 0.01)
  }

  /** Open a fresh ingest state over an initial sealed corpus. */
  def ingestStateOf(sealedFps0: DataFrame, capacity: Long): IngestState = {
    val sealed0 = sealedFps0.select("fp").localCheckpoint(true)
    IngestState(sealed0, deltaBloomOf(sealed0, capacity), capacity)
  }

  /** One epoch step: admit `batch` (doc_id, fp) against the state,
    * return the admitted frame (materialized) and the advanced state
    * (delta-bloom merge + sealed-set append — never a sealed re-scan).
    *
    * The bloom is advanced IN PLACE (`mergeInPlace` — copying a
    * gigabyte-class filter per epoch would defeat the delta design), so
    * the pre-step state aliases the advanced filter and MUST NOT be
    * reused after this call: the returned state is the only valid
    * continuation. A stale pre-step state is still SAFE on the admit
    * side — extra bloom bits only create false positives, which the
    * exact anti-join re-decides — but its sealedFps lacks this epoch's
    * admissions, so treat the old reference as consumed. */
  def ingestEpoch(state: IngestState, batch: DataFrame)
      : (DataFrame, IngestState) = {
    val (adm, cleanup) = epochAdmitManaged(batch, state.sealedFps, state.bloom)
    val admitted = adm.localCheckpoint(true)
    // the eager checkpoint severed the lineage: the epoch's probe
    // broadcast (if the filter routed past the literal ceiling) is
    // unreferenced from here on — free it now, not at some future GC
    cleanup()
    state.bloom.mergeInPlace(
      deltaBloomOf(admitted.select("fp"), state.capacity))
    (admitted, IngestState(
      state.sealedFps.unionByName(admitted.select("fp")),
      state.bloom, state.capacity))
  }

  /** Persist an [[IngestState]]: sealed fps as parquet (production
    * keeps this table BUCKETED by fp and APPENDS each run's admitted
    * delta instead of rewriting — `sources/Bucketing.scala`; the
    * save-side compaction here is the single-store equivalent), the
    * bloom's bits and the capacity beside it. */
  def saveIngestState(state: IngestState, dir: String): Unit = {
    // materialize BEFORE the overwrite: a loaded state's sealedFps READS
    // from this very path, and Spark's overwrite deletes the target
    // before the (lazy) plan would scan it — the round-trip save into
    // the same state dir must not destroy its own input
    state.sealedFps.localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$dir/sealed_fps")
    val bos = new java.io.ByteArrayOutputStream()
    state.bloom.writeTo(bos)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "bloom.bin"), bos.toByteArray)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "capacity"),
      state.capacity.toString.getBytes("UTF-8"))
  }

  def loadIngestState(spark: org.apache.spark.sql.SparkSession,
      dir: String): IngestState = {
    val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "bloom.bin"))))
    val capacity = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "capacity")), "UTF-8").trim.toLong
    IngestState(spark.read.parquet(s"$dir/sealed_fps"), bloom, capacity)
  }

  /** Initialize the STORED sealed set — the production spelling the
    * scaladoc above promises ("at 100 TB the sealed fp table is kept
    * bucketed by fp and each epoch APPENDS its admitted delta"):
    * a catalog table bucketed by `fp`, written once from the initial
    * sealed corpus. Every [[ingestEpochStored]] epoch then appends
    * O(|admitted|) rows instead of [[saveIngestState]]'s O(|sealed|)
    * rewrite, and the exact anti-join's sealed side reads its bucket
    * layout shuffle-free (the scan IS hash-partitioned on the join
    * key — only the epoch batch exchanges; plan-pinned in
    * IteratedIngestSpec). The bloom still persists beside it through
    * the [[saveIngestState]] bytes (it is run-level state, not
    * row-level). */
  def sealStore(table: String, sealedFps0: DataFrame,
      buckets: Int = 64): Unit = {
    graft.sources.Bucketing.writeBucketed(
      sealedFps0.select("fp"), table, "fp", buckets)
  }

  /** UNSEAL — the DELETE verb on the exact-dedup gate's memory (the
    * round-19 retro-purge applied to the fifth persisted store): purge
    * `fps` from the sealed set so that content becomes ADMISSIBLE again
    * — the "we dropped that source for quality, re-crawl it" / "this
    * seal was a mistake" operation. Same machinery as the index
    * families ([[graft.sources.Bucketing.deleteByKey]]: idempotent
    * anti-join staged rewrite, swap-instant outage, compaction-class
    * cost — batch unseals on the maintenance cadence).
    *
    * THE BLOOM NEEDS NO REBUILD, and that is a design property, not an
    * omission: blooms cannot delete, but the gate only ever uses a
    * bloom POSITIVE to route into the exact anti-join — after the
    * unseal the exact check finds the fingerprint absent and ADMITS.
    * A stale bloom bit is therefore exactly a false positive, the case
    * the gate absorbs by construction (q81's routing rule); the
    * unsealed content pays one exact check on re-arrival instead of
    * the fast-miss path, forever bounded by the bloom's FP arithmetic.
    * IteratedIngestSpec pins the full loop: seal → reject → unseal →
    * the SAME bloom re-admits the same content. */
  def unsealStore(table: String, fps: DataFrame): Unit = {
    val spark = fps.sparkSession
    spark.catalog.refreshTable(table)
    graft.sources.Bucketing.deleteByKey(spark, table, "fp",
      fps.select(fps(fps.columns.head).as("fp")))
  }

  /** One [[ingestEpoch]] against the STORED sealed set: admit `batch`
    * over the bucketed table, advance the bloom in place (the
    * [[ingestEpoch]] aliasing rule applies), and append the admitted
    * fingerprints to the store — bucket-aligned, the append discipline
    * every bucketed insert in the engine follows. Single-writer per
    * store, like every append path; the admitted frame is materialized
    * BEFORE the append so the insert cannot lazily re-read the table it
    * is inserting into mid-plan. */
  def ingestEpochStored(table: String, batch: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      capacity: Long): DataFrame = {
    val spark = batch.sparkSession
    // read-your-committed-appends (the index probe rule): a prior epoch
    // may have appended from another session
    spark.catalog.refreshTable(table)
    val (adm, cleanup) = epochAdmitManaged(batch, spark.table(table), bloom)
    val admitted = adm.localCheckpoint(true)
    cleanup()
    bloom.mergeInPlace(deltaBloomOf(admitted.select("fp"), capacity))
    val buckets = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets).getOrElse(throw new IllegalStateException(
        s"$table carries no bucket spec — not initialized by sealStore"))
    admitted.select("fp").repartition(buckets, col("fp"))
      .write.mode("append").insertInto(table)
    admitted
  }

  private[graft] def iteratedIngest(sealedFps0: DataFrame,
      batches: Seq[DataFrame], capacity: Long): DataFrame = {
    var state = ingestStateOf(sealedFps0, capacity)
    val admittedEpochs = batches.zipWithIndex.map { case (batch, i) =>
      val (admitted, next) = ingestEpoch(state, batch)
      state = next
      admitted.withColumn("epoch", lit((i + 1).toLong))
    }
    admittedEpochs.reduce(_ unionByName _)
      .select(col("epoch"), col("doc_id"), col("fp"))
  }

  /** One epoch of [[iteratedIngest]], un-materialized — package-visible
    * so PlanShapeSpec can pin the per-epoch plan (in-batch keep-first
    * window, bloom-routed probe, hash-keyed LeftAnti for the positives)
    * without executing the loop's checkpoints. LITERAL-BRANCH ONLY by
    * construction: this convenience discards the managed variant's
    * cleanup handle, which past [[BloomLiteralCeiling]] is the ONLY
    * reference to the epoch's GB-scale probe broadcast — exactly the
    * accumulation hazard [[epochAdmitManaged]] exists to close — so a
    * past-ceiling filter is refused here rather than silently leaked. */
  private[queries] def epochAdmit(batch: DataFrame, sealedFps: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    require(bloom.bitSize() / 8 <= BloomLiteralCeiling,
      s"epochAdmit serves only the plan-literal probe branch (filter is " +
        s"${bloom.bitSize() / 8} bytes, ceiling $BloomLiteralCeiling); a " +
        "past-ceiling filter routes to a broadcast whose cleanup handle " +
        "this wrapper discards — use epochAdmitManaged and invoke its cleanup")
    epochAdmitManaged(batch, sealedFps, bloom)._1
  }

  /** [[epochAdmit]] plus the probe's resource handle: callers that
    * MATERIALIZE the admissions (ingestEpoch's eager checkpoint severs
    * the lineage) call the cleanup to destroy the epoch's broadcast
    * immediately — without it a long ingest loop past the literal
    * ceiling would accumulate one GB-scale broadcast per epoch in the
    * executors' block managers until driver GC happens to trigger the
    * ContextCleaner. The literal branch's cleanup is a no-op. */
  private[queries] def epochAdmitManaged(batch: DataFrame, sealedFps: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter)
      : (DataFrame, () => Unit) = {
    val wFirst = Window.partitionBy("fp").orderBy("doc_id")
    val firstInBatch = batch.select(col("doc_id"), col("fp"))
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1).drop("rn")
    val (hit, cleanup) = bloomHitCol(batch.sparkSession, bloom)
    (firstInBatch.filter(!hit)
      .unionByName(firstInBatch.filter(hit)
        .join(sealedFps, Seq("fp"), "left_anti")),
      cleanup)
  }

  /** The sealed-set membership probe, SIZE-ROUTED: small filters embed
    * as a plan literal feeding the codegen'd `bloom_might_contain`
    * (constant-folded bit probe, no closure, no broadcast bookkeeping);
    * past [[BloomLiteralCeiling]] the filter ships as a BROADCAST
    * VARIABLE probed by a UDF instead — a plan literal rides inside the
    * serialized task binary, so a GB-scale filter (the scaladoc's 10⁹-key
    * ~1.2 GB ceiling) would be re-serialized into every stage's binary
    * that references the plan, where TorrentBroadcast ships it once per
    * executor and re-USES it across the epoch loop's stages. The route
    * decision reads `bitSize()/8` — sizing a GB-scale filter must not
    * itself serialize GB onto the driver heap just to pick the branch
    * (and a >2 GB serialized form could never materialize as one byte
    * array at all); only the literal branch pays the writeTo. Both
    * branches probe the identical `mightContainLong(xxhash64(fp))`, so
    * routing never changes admissions — only where the bytes live. The
    * 16 MB ceiling is deliberately far below broadcast limits: it is the
    * point where re-serializing per referencing stage starts to dominate
    * the one-time broadcast setup, not a correctness bound. */
  private[queries] val BloomLiteralCeiling: Long = 16L << 20
  private def bloomHitCol(spark: org.apache.spark.sql.SparkSession,
      bloom: org.apache.spark.util.sketch.BloomFilter)
      : (org.apache.spark.sql.Column, () => Unit) =
    if (bloom.bitSize() / 8 <= BloomLiteralCeiling) {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      (kernel("bloom_might_contain", lit(bos.toByteArray),
        xxhash64(col("fp"))), () => ())
    } else {
      val bc = spark.sparkContext.broadcast(bloom)
      (udf((h: Long) => bc.value.mightContainLong(h))
        .apply(xxhash64(col("fp"))), () => bc.destroy())
    }

  /** Q126: iterated incremental ingestion — 3 epochs of q81's gate where
    * each epoch's admissions SEAL for the next ([[iteratedIngest]]; the
    * non-sealed corpus arrives as 3 batches by doc_id % 3). The oracle is
    * the CLOSED FORM of the loop: a document is admitted iff its
    * fingerprint is absent from the sealed set and it is the globally
    * first arrival of that fingerprint (ordered by epoch, then doc_id) —
    * the two spellings agreeing hash-exactly is the cross-epoch
    * correctness statement (a doc admitted in epoch 1 rejects its twin
    * in epoch 3; a sealed fingerprint rejects in every epoch; in-batch
    * twins resolve keep-first). At sf0.01 every path is non-vacuous:
    * 400 admitted, 34 sealed-rejected, 14 rejected by an earlier epoch's
    * admission, 2 by a same-batch twin. Probed sub-linear at
    * 30×/100×/300× on both corpus modes (tail exps 0.88→0.75 cipher,
    * 0.72→0.90 heaps — SCALING.md round 16): the gate's cost tracks
    * ADMISSIONS (the corpus's novelty rate), not arrivals — the heaps
    * exponent rises exactly when that corpus stops yielding new
    * cross-copy collisions, the cipher exponent falls as fixed per-run
    * costs amortize. */
  private val q126 = GraftQuery(
    "q126_iterated_ingest",
    (spark, dir) => {
      val fp = bowFingerprint
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val sealed0 = docs.filter(col("doc_id") % 10 === 7).select(fp.as("fp"))
      val rest = docs.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), fp.as("fp"))
      val batches = (0 until 3).map(k => rest.filter(col("doc_id") % 3 === k))
      iteratedIngest(sealed0, batches, capacity = docs.count())
        .orderBy("epoch", "doc_id")
    },
    Some(s"""
      WITH fp AS (
        SELECT doc_id, (doc_id % 3) + 1 AS epoch, $bowFingerprintSql AS fp
        FROM documents WHERE doc_id % 10 <> 7),
      sealed AS (
        SELECT DISTINCT $bowFingerprintSql AS fp
        FROM documents WHERE doc_id % 10 = 7),
      ranked AS (
        SELECT epoch, doc_id, fp,
               row_number() OVER (PARTITION BY fp
                                  ORDER BY epoch, doc_id) AS rn
        FROM fp)
      SELECT epoch, doc_id, fp FROM ranked b
      WHERE rn = 1
        AND NOT EXISTS (SELECT 1 FROM sealed s WHERE s.fp = b.fp)
      ORDER BY epoch, doc_id"""),
    headline = true)

  val all: Seq[GraftQuery] =
    Seq(q80, q81, q82, q83, q90, q91, q98, q99, q104, q109, q126)
}
