package graft.queries

import graft.{GraftQuery, Tables}
import graft.plans.GraftExtensions.kernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling operators — the reference's core "query semantics"
  * (SURVEY.md §2.5): uniform pick R1, inverse-frequency weighted sampling
  * R2 (`Gyrfalcon/problem_type_tree/sampling_manager.py:192-228`), random
  * truncation R4 (`tree_manager.py:488-527`), difficulty-weighted selection
  * R5 (`agents/query_synthesis_agent.py:155-186`), probability gates R6.
  *
  * Determinism: every random source is a seeded md5-derived 32-bit uniform
  * (`Rand.u32`) computed identically in Spark and DuckDB, so draws
  * hash-match the oracle exactly — the rebuild's answer to the reference's
  * unseeded `random.*` (SURVEY §7 "Nondeterminism"). All comparisons are
  * integer, never float.
  */
object Sampling {

  /** Single-group window key that survives the optimizer: Spark 4's
    * EliminateWindowPartitions strips foldable keys (lit(1)) from window
    * specs, turning them into warn-per-execution global windows. A
    * zero-length substring of a data column is constant ("") per row but
    * non-foldable, so the one-partition spec is preserved. Only for frames
    * already reduced to category scale. */
  private def oneGroup(c: Column): Column = substring(c, 0, 0)

  /** Deterministic uniform in [0, 2^32): base-16 left-fold of the first 8
    * md5 hex nibbles. */
  object Rand {
    def u32(h: Column): Column =
      aggregate(
        transform(sequence(lit(1), lit(8)), i => {
          val a = ascii(h.substr(i, lit(1)))
          when(a <= 57, a - 48).otherwise(a - 87).cast("long")
        }),
        lit(0L), (acc, x) => acc * 16 + x)

    def u32Sql(h: String): String =
      s"""list_reduce(list_transform(generate_series(1, 8),
         i -> CAST(CASE WHEN ascii(substring($h, i, 1)) <= 57
                   THEN ascii(substring($h, i, 1)) - 48
                   ELSE ascii(substring($h, i, 1)) - 87 END AS BIGINT)),
         (a, b) -> a * 16 + b)"""
  }

  private val TwoPow32 = 4294967296L

  /** The leakage-safe 80/10/10 group-split rule, ONE definition shared by
    * q105 and the q124 curation composite (both dialects): split by the
    * md5-uniform of "gsplit:" + the group key — train below 0.8·2³²,
    * val below 0.9·2³², else test. */
  object GroupSplit {
    val TrainBound = 3435973836L // floor(0.8 * 2^32)
    val ValBound = 3865470566L   // floor(0.9 * 2^32)

    /** Spark side: split column from a (string-castable) group key. */
    def splitCol(groupKey: Column): Column = {
      val u = Rand.u32(md5(concat(lit("gsplit:"), groupKey.cast("string"))))
      when(u < TrainBound, "train").when(u < ValBound, "val").otherwise("test")
    }

    /** DuckDB side: the same rule over a column expression. */
    def splitSql(groupKey: String): String =
      s"""CASE WHEN ${Rand.u32Sql(s"md5('gsplit:' || CAST($groupKey AS VARCHAR))")} < $TrainBound THEN 'train'
               WHEN ${Rand.u32Sql(s"md5('gsplit:' || CAST($groupKey AS VARCHAR))")} < $ValBound THEN 'val'
               ELSE 'test' END"""
  }

  /** Q60: inverse-frequency weighted categorical sampling (R2): weight each
    * brand 1/(count+1)^1.5, draw 100 picks by inverse-CDF over the integer
    * cumulative weights. The weights table is tiny at any scale (distinct
    * categories), so the non-equi pick join is a broadcast; the only real
    * shuffle is the count aggregation. Integer weights (floor ×1e6) make
    * the CDF engine-exact. */
  private val q60 = GraftQuery(
    "q60_weighted_sample",
    (spark, dir) => {
      val cnt1 = (col("cnt") + 1).cast("double")
      val brands = Tables.part(spark, dir)
        .groupBy(col("p_brand")).agg(count(lit(1)).as("cnt"))
        .withColumn("w", floor(lit(1000000.0) / (cnt1 * sqrt(cnt1))).cast("long"))
      // Constant partition key: the CDF frame is one row per distinct brand
      // (tiny at any SF). A foldable key like lit(1) is stripped by Spark
      // 4's EliminateWindowPartitions, regenerating the "No Partition
      // Defined" warning — oneGroup() is non-foldable so the spec survives.
      val one = oneGroup(col("p_brand"))
      val wCum = Window.partitionBy(one).orderBy("p_brand")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cdf = brands
        .withColumn("cum", sum(col("w")).over(wCum))
        .withColumn("total", sum(col("w")).over(Window.partitionBy(one)))
      val draws = spark.range(100).select(col("id").as("draw_id"))
        .withColumn("u", Rand.u32(md5(concat(lit("draw:"), col("draw_id")))))
      // (u * total) div 2^32 in pure 64-bit integer math — a double division
      // here would lose precision above 2^53 and could flip a bucket edge.
      draws.crossJoin(broadcast(cdf))
        .withColumn("threshold", expr(s"(u * total) div $TwoPow32"))
        .filter(col("threshold") >= col("cum") - col("w") && col("threshold") < col("cum"))
        .select(col("draw_id"), col("p_brand"))
        .orderBy("draw_id")
    },
    Some(s"""
      WITH brands AS (
        SELECT p_brand, count(*) AS cnt FROM part GROUP BY p_brand),
      wt AS (
        SELECT p_brand,
               CAST(floor(1000000.0 / (CAST(cnt + 1 AS DOUBLE) * sqrt(CAST(cnt + 1 AS DOUBLE)))) AS BIGINT) AS w
        FROM brands),
      cdf AS (
        SELECT p_brand, w,
               sum(w) OVER (ORDER BY p_brand ROWS UNBOUNDED PRECEDING) AS cum,
               sum(w) OVER () AS total
        FROM wt),
      draws AS (
        SELECT d AS draw_id, ${Rand.u32Sql("md5('draw:' || d)")} AS u
        FROM generate_series(0, 99) t(d))
      SELECT draw_id, p_brand
      FROM draws JOIN cdf
        ON (u * total) // $TwoPow32 >= cum - w AND (u * total) // $TwoPow32 < cum
      ORDER BY draw_id"""),
    headline = true)

  /** Q61: stratified Bernoulli sampling (R3/R6 generalized): per-language
    * rates (en 0.5, others 0.2), keep iff hash-uniform < rate. A pure
    * narrow filter — at 100 TB this IS the sampling operator of choice:
    * no shuffle, reproducible, push-down-friendly. */
  private val q61 = GraftQuery(
    "q61_stratified_sample",
    (spark, dir) => {
      val u = Rand.u32(md5(concat(lit("strat:"), col("doc_id"))))
      val rate = when(col("lang") === "en", lit((0.5 * TwoPow32).toLong))
        .otherwise(lit((0.2 * TwoPow32).toLong))
      Tables.documents(spark, dir)
        .filter(u < rate)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, lang
      FROM documents
      WHERE ${Rand.u32Sql("md5('strat:' || doc_id)")}
            < CASE WHEN lang = 'en' THEN ${(0.5 * TwoPow32).toLong}
                   ELSE ${(0.2 * TwoPow32).toLong} END
      ORDER BY doc_id"""))

  /** Q62: random path truncation (R4): truncate each document's token
    * array to a hash-chosen depth in [2, n-1] (docs with < 3 tokens are
    * excluded, mirroring the reference's >= 3-node guard); the tail token
    * is the "selected problem type". Narrow map, no shuffle. */
  private val q62 = GraftQuery(
    "q62_truncate_path",
    (spark, dir) => {
      val toks = split(col("text"), " ")
      val u = Rand.u32(md5(concat(lit("trunc:"), col("doc_id"))))
      Tables.documents(spark, dir)
        .filter(size(toks) >= 3)
        .withColumn("n_tokens", size(toks))
        .withColumn("depth", (lit(2) + u % (col("n_tokens") - 2)).cast("int"))
        .select(
          col("doc_id"), col("n_tokens"), col("depth"),
          element_at(toks, col("depth")).as("tail_token"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 3),
      d AS (
        SELECT doc_id, len(toks) AS n_tokens, toks,
               CAST(2 + ${Rand.u32Sql("md5('trunc:' || doc_id)")} % (len(toks) - 2) AS INTEGER) AS depth
        FROM t)
      SELECT doc_id, n_tokens, depth, toks[depth] AS tail_token
      FROM d
      ORDER BY doc_id"""))

  /** Q63: difficulty-weighted selection (R5, default dist easy .2 /
    * medium .5 / hard .3): categorical draw per document via integer
    * thresholds, then the distribution audit the reference logs (A5). */
  private val q63 = GraftQuery(
    "q63_difficulty_select",
    (spark, dir) => {
      val u = Rand.u32(md5(concat(lit("diff:"), col("doc_id"))))
      val easyT = (0.2 * TwoPow32).toLong
      val medT = (0.7 * TwoPow32).toLong
      Tables.documents(spark, dir)
        .withColumn("difficulty",
          when(u < easyT, "easy").when(u < medT, "medium").otherwise("hard"))
        .groupBy(col("difficulty"))
        .agg(count(lit(1)).as("n"))
        .orderBy("difficulty")
    },
    Some(s"""
      SELECT CASE WHEN ${Rand.u32Sql("md5('diff:' || doc_id)")} < ${(0.2 * TwoPow32).toLong}
                  THEN 'easy'
                  WHEN ${Rand.u32Sql("md5('diff:' || doc_id)")} < ${(0.7 * TwoPow32).toLong}
                  THEN 'medium' ELSE 'hard' END AS difficulty,
             count(*) AS n
      FROM documents
      GROUP BY 1
      ORDER BY difficulty"""))

  /** Q64: uniform k-sample without replacement (R1): rank by hash-uniform,
    * keep the first 10 — the distributed, reproducible ORDER BY rand()
    * LIMIT k. At scale: TakeOrdered over per-partition heaps, O(k) driver
    * memory. */
  private val q64 = GraftQuery(
    "q64_uniform_pick",
    (spark, dir) => {
      val u = Rand.u32(md5(concat(lit("pick:"), col("doc_id"))))
      // orderBy + limit compiles to TakeOrderedAndProject: per-partition
      // top-10 heaps, O(k) driver merge — no global sort, no window over
      // the full table. The rank window afterwards runs on 10 rows only
      // (constant partition key keeps the WindowExec partitioned).
      val top = Tables.documents(spark, dir)
        .withColumn("u", u)
        .orderBy(col("u"), col("doc_id"))
        .limit(10)
      val w = Window.partitionBy(oneGroup(col("doc_id"))).orderBy(col("u"), col("doc_id"))
      top
        .withColumn("sample_rank", row_number().over(w))
        .select(col("sample_rank"), col("doc_id"), col("lang"))
        .orderBy("sample_rank")
    },
    Some(s"""
      SELECT sample_rank, doc_id, lang
      FROM (SELECT doc_id, lang,
                   row_number() OVER (ORDER BY ${Rand.u32Sql("md5('pick:' || doc_id)")}, doc_id) AS sample_rank
            FROM documents)
      WHERE sample_rank <= 10
      ORDER BY sample_rank"""))

  /** Q65: the R7+X7 dynamic tree-expansion epoch end-to-end over a demo
    * taxonomy — gated rounds propose LLM-generated siblings (stubbed X7),
    * F17-parse, validate (parent exists, label new, first round wins a
    * collision) and union into the next epoch. Output: the accepted
    * proposal batch.
    *
    * The oracle replays the WHOLE chain in SQL — the q47–q49 md5-replay
    * technique: every draw is `first8hex(md5('epoch:<kind>:<round>:0'))`
    * ([[graft.gyrfalcon.Tree.expansionEpoch]]'s u32 via
    * `SpanConverter.callId`), the demo tree's 4 paths / 6 non-root nodes
    * are inlined as VALUES, the generation prompt is rebuilt
    * byte-identically with chr(10) newlines, and the stub's proposal is
    * `tag_<first8hex(md5(prompt))>` ([[graft.services.StubServiceClient]]
    * taxonomy branch) — so gate, path pick, parent pick, prompt digest,
    * JSON fields, dedup window and label anti-join are all hash-checked,
    * not just row-counted. */
  private val q65 = GraftQuery(
    "q65_tree_expansion",
    (spark, dir) => {
      import graft.gyrfalcon.Tree
      val root = Tree.Node("root", "Root", "根", Seq(
        Tree.Node("sci", "Science", "科学", Seq(
          Tree.Node("sci_phy", "Physics", "物理", Nil),
          Tree.Node("sci_bio", "Biology", "生物", Nil))),
        Tree.Node("eng", "Engineering", "工程", Seq(
          Tree.Node("eng_sw", "Software", "软件", Nil))),
        Tree.Node("art", "Arts", "艺术", Nil)))
      val (accepted, _) = Tree.expansionEpoch(
        spark, root, graft.services.StubServiceClient, nRounds = 500, p = 0.1)
      accepted
        .select("round_id", "parent_id", "id", "en", "zh")
        .orderBy("round_id")
    },
    Some {
      def u32(kind: String) = Rand.u32Sql(s"md5('epoch:$kind:' || r || ':0')")
      s"""
      WITH rounds AS (SELECT unnest(generate_series(0, 499)) AS r),
      gated AS (
        SELECT r,
               ${u32("path")} % 4 AS path_idx,
               ${u32("parent")} AS parent_draw
        FROM rounds
        WHERE CAST(${u32("gate")} AS DOUBLE) / 4294967296.0 < 0.1),
      paths(path_idx, non_root) AS (VALUES
        (0, ['sci', 'sci_phy']),
        (1, ['sci', 'sci_bio']),
        (2, ['eng', 'eng_sw']),
        (3, ['art'])),
      nodes(node_id, n_en, n_zh, siblings) AS (VALUES
        ('sci',     'Science',     '科学', 'Physics, Biology'),
        ('sci_phy', 'Physics',     '物理', ''),
        ('sci_bio', 'Biology',     '生物', ''),
        ('eng',     'Engineering', '工程', 'Software'),
        ('eng_sw',  'Software',    '软件', ''),
        ('art',     'Arts',        '艺术', '')),
      sel AS (
        SELECT g.r,
               p.non_root[CAST(g.parent_draw % len(p.non_root) AS INT) + 1] AS parent_id
        FROM gated g JOIN paths p ON p.path_idx = g.path_idx),
      prompts AS (
        SELECT s.r AS round_id, s.parent_id,
               'You are a taxonomy expansion expert. Propose ONE new problem-type category as a child of the given parent, distinct from every existing sibling.'
                 || chr(10) || chr(10)
                 || 'Parent: ' || n.n_en || ' / ' || n.n_zh || chr(10)
                 || 'Existing siblings: ' || n.siblings || chr(10)
                 || 'Round: ' || s.r || chr(10) || chr(10)
                 || 'Return JSON {"id", "en", "zh"} embedded anywhere in your answer.'
                 AS prompt
        FROM sel s JOIN nodes n ON n.node_id = s.parent_id),
      props AS (
        SELECT round_id, parent_id, substring(md5(prompt), 1, 8) AS seed
        FROM prompts),
      dedup AS (
        SELECT round_id, parent_id,
               parent_id || '_tag_' || seed AS id,
               'topic ' || seed AS en,
               '主题 ' || seed AS zh,
               row_number() OVER (PARTITION BY parent_id, seed ORDER BY round_id) AS rn
        FROM props)
      SELECT round_id, parent_id, id, en, zh
      FROM dedup
      WHERE rn = 1 AND en NOT IN
        ('Root', 'Science', 'Physics', 'Biology', 'Engineering', 'Software', 'Arts')
      ORDER BY round_id"""
    })

  /** Q53: training-sequence packing — the concat-and-chunk step every
    * GPT-style pipeline runs between cleaning and tokenized shards:
    * documents are concatenated in a stable order and the token stream is
    * cut into fixed 256-token sequences, documents spanning chunk
    * boundaries (no padding, no document shuffling). Emitted per
    * (source, sequence): how many documents touch it and how many tokens
    * it holds (256 except each source's final partial).
    *
    * Scale shape: packing needs a PER-STREAM prefix sum, so the stream key
    * is `source` — `Window.partitionBy(source).orderBy(doc_id)` is one
    * shuffle on source and parallelism = #streams. That is the right
    * granularity at 100 TB (real pipelines pack within a domain/shard so
    * sequence membership is reproducible per shard); a single mega-source
    * would serialize its partition, and the documented fix is sharding the
    * stream key to (source, hash(doc_id) % k) — boundaries then differ per
    * k, which packing tolerates (chunk identity is shard-local anyway).
    * The boundary-span explode emits ~n_tokens/256 + 1 rows per doc
    * (bounded fan-out); everything downstream is integer math partitioned
    * on the same key, so no second shuffle until the tiny final sort. */
  private val q53 = {
    val seqLen = 256
    GraftQuery(
      "q53_pack_sequences",
      (spark, dir) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        docs
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("start_tok", col("cum") - col("n_tok"))
          .withColumn("first_seq", floor(col("start_tok") / seqLen))
          .withColumn("last_seq", floor((col("cum") - 1) / seqLen))
          .select(col("source"), col("start_tok"), col("cum"),
            explode(sequence(col("first_seq"), col("last_seq"))).as("seq"))
          .groupBy(col("source"), col("seq"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(least(col("cum"), (col("seq") + 1) * seqLen) -
              greatest(col("start_tok"), col("seq") * seqLen)).as("n_tok"))
          .orderBy("source", "seq")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT source, n_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM d),
        spans AS (
          SELECT source, cum - n_tok AS start_tok, cum,
                 unnest(generate_series((cum - n_tok) // $seqLen,
                                        (cum - 1) // $seqLen)) AS seq
          FROM c)
        SELECT source, seq, count(*) AS n_docs,
               CAST(sum(least(cum, (seq + 1) * $seqLen)
                   - greatest(start_tok, seq * $seqLen)) AS BIGINT) AS n_tok
        FROM spans
        GROUP BY source, seq
        ORDER BY source, seq"""),
      headline = true)
  }

  /** Q56: temperature-reweighted mixture sampling — the multilingual /
    * multi-domain rebalancing rule (Conneau & Lample 2019, arXiv
    * 1901.07291 §3.1 — public paper; also GPT-3's dataset-mixture
    * weighting): sample stream g with probability ∝ (its token share)^α,
    * α = 0.5, so heavy domains are down-weighted and light domains
    * up-weighted relative to natural frequency. The target budget is 20%
    * of corpus tokens; each document's acceptance rate is
    * min(1, budget · p_g / tok_g), gated by the repo-standard md5
    * uniform so the draw is engine-exact (integer compare against a
    * floored threshold — never a float comparison on the random side).
    *
    * Scale shape: the rates table is one row per stream (tiny at any
    * scale) built by one partial-agg pass; it broadcast-joins back onto
    * the corpus, so the whole operator is scan + broadcast + narrow
    * filter — no corpus shuffle at 100 TB. The threshold doubles are
    * computed by the identical expression tree in both engines (sqrt /
    * mul / div in the same order), so the floor is bit-stable. */
  private val q56 = GraftQuery(
    "q56_mixture_sample",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      // one-row-per-stream aggregate, materialized: without the barrier it
      // feeds THREE subtrees (rates, the total, and through them the gate)
      // and each re-scans the corpus — 3× text I/O at 100 TB for a 20-row
      // frame (the q32 multi-consumer lesson, caught by a plan audit)
      val byG = docs.groupBy("source").agg(sum("n_tok").as("tok_g"))
        .localCheckpoint(true)
      // z is a float sum over the (tiny) stream table: a plain sum() would
      // add in partition order and drift a ULP from the oracle — fold over
      // the SORTED value list instead so both engines add identically
      val tot = byG.agg(
        sum("tok_g").as("tok_total"),
        aggregate(array_sort(collect_list(sqrt(col("tok_g").cast("double")))),
          lit(0.0), (a, x) => a + x).as("z"))
      val rates = byG.crossJoin(broadcast(tot))
        .withColumn("rate",
          least(lit(1.0),
            lit(0.2) * col("tok_total").cast("double") *
              sqrt(col("tok_g").cast("double")) / col("z") /
              col("tok_g").cast("double")))
        .withColumn("thr", floor(col("rate") * TwoPow32).cast("long"))
        .select(col("source"), col("rate"), col("thr"))
      docs.join(broadcast(rates), "source")
        .filter(Rand.u32(md5(concat(lit("mix:"), col("doc_id").cast("string")))) <
          col("thr"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("rate"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      g AS (SELECT source, sum(n_tok) AS tok_g FROM d GROUP BY source),
      t AS (SELECT sum(tok_g) AS tok_total,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_sort(list(sqrt(CAST(tok_g AS DOUBLE))))),
                     (a, b) -> a + b) AS z
            FROM g),
      rates AS (
        SELECT source,
               least(1.0, 0.2 * CAST(tok_total AS DOUBLE)
                 * sqrt(CAST(tok_g AS DOUBLE)) / z
                 / CAST(tok_g AS DOUBLE)) AS rate,
               CAST(floor(least(1.0, 0.2 * CAST(tok_total AS DOUBLE)
                 * sqrt(CAST(tok_g AS DOUBLE)) / z
                 / CAST(tok_g AS DOUBLE)) * 4294967296) AS BIGINT) AS thr
        FROM g CROSS JOIN t)
      SELECT doc_id, d.source, n_tok, rate
      FROM d JOIN rates ON d.source = rates.source
      WHERE ${Rand.u32Sql("md5('mix:' || CAST(doc_id AS VARCHAR))")} < thr
      ORDER BY doc_id"""),
    headline = true)

  /** Q59: deterministic stratified train/val/test split — the 80/10/10
    * hold-out assignment every training corpus needs, EXACT per stratum
    * (each source contributes floor(0.8·n) docs to train, floor(0.9·n)−
    * floor(0.8·n) to val, the rest to test) rather than Bernoulli-
    * approximate: documents are ranked within their source by the
    * repo-standard md5 uniform (ties by doc_id) and the rank is cut at
    * integer boundaries. Re-running on the same corpus reproduces the
    * split bit-for-bit; adding a document reshuffles only its own
    * stratum (the well-known cost of exact stratification vs per-doc
    * hash gates, which q56 already provides).
    *
    * Scale shape: one shuffle on source (window rank + per-source count,
    * the q53 packing idiom — HashPartitioning(source) serves both);
    * everything else is narrow integer math. Mega-stratum skew has the
    * same documented fix as q53: shard the stratum key. */
  private val q59 = GraftQuery(
    "q59_stratified_split",
    (spark, dir) => {
      val w = Window.partitionBy("source")
      val wr = w.orderBy(col("u"), col("doc_id"))
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          Rand.u32(md5(concat(lit("split:"), col("doc_id").cast("string")))).as("u"))
        .withColumn("r", row_number().over(wr))
        .withColumn("n_g", count(lit(1)).over(w))
        .select(col("doc_id"), col("source"),
          when(col("r") <= floor(col("n_g") * 0.8), "train")
            .when(col("r") <= floor(col("n_g") * 0.9), "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, source,
               ${Rand.u32Sql("md5('split:' || CAST(doc_id AS VARCHAR))")} AS u
        FROM documents),
      r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS r,
               count(*) OVER (PARTITION BY source) AS n_g
        FROM d)
      SELECT doc_id, source,
             CASE WHEN r <= floor(n_g * 0.8) THEN 'train'
                  WHEN r <= floor(n_g * 0.9) THEN 'val'
                  ELSE 'test' END AS split
      FROM r
      ORDER BY doc_id"""),
    headline = true)

  /** Q69: hashed-n-gram IMPORTANCE scoring for data selection — the DSIR
    * recipe (Xie et al., NeurIPS'23, "Data Selection for Language Models
    * via Importance Resampling"; public paper, no reference analogue):
    * featurize every document as hashed word-bigram counts, estimate
    * per-bucket feature distributions for a TARGET domain (here the
    * `src0` source stands in for the curated target corpus) and for the
    * RAW pool, and rank raw documents by how target-like their features
    * are. The top of the ranking is what you'd feed the training mixture.
    * (`Text.scala` q100 is the binary-gate companion: a per-document
    * accept/reject verdict in all-integer arithmetic over the whole pool,
    * where this query ranks and truncates.)
    *
    * Two deliberate deviations from the paper, both for cross-engine
    * bit-exactness (this output is hash-compared against DuckDB):
    * per-document score is the SUM of per-occurrence likelihood ratios
    * rather than the log-product (IEEE +,*,/ are exactly specified;
    * `ln` is not, and 1-ULP libm drift would flake the oracle), and each
    * ratio is spelled ((cnt_t+1)/(st+B)) / ((cnt_r+1)/(sr+B)) — division
    * before division — so no intermediate integer product can exceed
    * 2^53 at any corpus size. The ratio sum rewards the same per-bucket
    * evidence the paper's log-product does (not an identical ranking —
    * a documented variant, chosen because a flaky oracle is worse than
    * a variant scorer).
    *
    * Scale shape: the feature frame is built once behind a checkpoint
    * barrier (it feeds the target counts, the raw counts, AND the scoring
    * join — the q56 multi-consumer lesson); bucket counts are partial-agg
    * groupBys over a FIXED 4096-bucket domain (bounded by construction,
    * so the ratio table broadcast is corpus-size-independent — the one
    * place a fixed keyspace is correct, because it is an aggregate, not
    * a join index); scoring is one keyed shuffle per doc; the final
    * top-100 is TakeOrdered (O(k) driver memory). One corpus scan,
    * linear at 100 TB. */
  private val q69 = GraftQuery(
    "q69_importance_score",
    (spark, dir) => {
      val B = 4096
      val fb = Tables.documents(spark, dir)
        .filter(size(split(col("text"), " ")) >= 2)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), col("source"),
          explode(kernel("word_shingles", col("text"), lit(2), lit(false))).as("bg"))
        .select(col("doc_id"), col("source"),
          (Rand.u32(md5(concat(lit("dsir:"), col("bg")))) % B).as("bucket"))
        .localCheckpoint(eager = true)
      val ct = fb.filter(col("source") === "src0")
        .groupBy("bucket").agg(count(lit(1)).as("cnt_t"))
      val cr = fb.filter(col("source") =!= "src0")
        .groupBy("bucket").agg(count(lit(1)).as("cnt_r"))
      val tot = ct.agg(sum(col("cnt_t")).as("st"))
        .crossJoin(cr.agg(sum(col("cnt_r")).as("sr")))
      val ratio = fb.select(col("bucket")).distinct()
        .join(ct, Seq("bucket"), "left")
        .join(cr, Seq("bucket"), "left")
        .crossJoin(broadcast(tot))
        .select(col("bucket"),
          (((coalesce(col("cnt_t"), lit(0L)) + 1).cast("double") /
              (col("st") + B).cast("double")) /
            ((coalesce(col("cnt_r"), lit(0L)) + 1).cast("double") /
              (col("sr") + B).cast("double"))).as("r"))
      fb.filter(col("source") =!= "src0")
        .join(broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_feats"),
          aggregate(array_sort(collect_list(col("r"))), lit(0.0),
            (a, x) => a + x).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(100)
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      f AS (
        SELECT doc_id, source,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> concat_ws(' ', t[i], t[i+1]))) AS bg
        FROM toks),
      fb AS (
        SELECT doc_id, source,
               ${Rand.u32Sql("md5('dsir:' || bg)")} % 4096 AS bucket
        FROM f),
      ct AS (SELECT bucket, count(*) AS cnt_t FROM fb
             WHERE source = 'src0' GROUP BY bucket),
      cr AS (SELECT bucket, count(*) AS cnt_r FROM fb
             WHERE source <> 'src0' GROUP BY bucket),
      tot AS (SELECT CAST((SELECT sum(cnt_t) FROM ct) AS BIGINT) AS st,
                     CAST((SELECT sum(cnt_r) FROM cr) AS BIGINT) AS sr),
      ratio AS (
        SELECT b.bucket,
               (CAST(COALESCE(ct.cnt_t, 0) + 1 AS DOUBLE)
                  / CAST(st + 4096 AS DOUBLE))
               / (CAST(COALESCE(cr.cnt_r, 0) + 1 AS DOUBLE)
                  / CAST(sr + 4096 AS DOUBLE)) AS r
        FROM (SELECT DISTINCT bucket FROM fb) b
        LEFT JOIN ct ON ct.bucket = b.bucket
        LEFT JOIN cr ON cr.bucket = b.bucket
        CROSS JOIN tot)
      SELECT doc_id, count(*) AS n_feats,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_sort(list(r))), (a, b) -> a + b) AS score
      FROM fb JOIN ratio ON ratio.bucket = fb.bucket
      WHERE source <> 'src0'
      GROUP BY doc_id
      ORDER BY score DESC, doc_id
      LIMIT 100"""))

  /** Q102: reproducible EPOCH SHUFFLE — the global training-order
    * permutation a data loader needs before every epoch, produced WITHOUT
    * a global sort: `ORDER BY rand()` is a single total order (one range
    * exchange + a full sort whose final merge is driver-adjacent, and
    * non-reproducible besides), so production loaders shuffle in two
    * levels instead (the tf.data / composer-streaming recipe: shuffle
    * shards, then shuffle within shards). Both levels here derive from
    * the repo-standard md5 uniform keyed by (epoch, doc_id): shard =
    * hash % [[ShuffleShards]] spreads documents across shards, and the
    * within-shard position ranks by the same hash — so the permutation is
    * (a) bit-reproducible given the epoch seed, (b) different each epoch,
    * (c) computable with ONE hash shuffle plus per-shard sorts that
    * parallelize perfectly (no range exchange, no skew: md5 spreads
    * uniformly by construction). A loader reads shards in id order,
    * rows in pos order, giving every worker an O(1) seek into the epoch
    * order.
    *
    * Scale shape: one HashPartitioning(shard) exchange; per-shard sort of
    * n/S rows. S scales with the cluster (here 16); the output pairs with
    * q90's manifest for the physical write. */
  /** q102's schedule kernel over an ARBITRARY (doc_id, …) frame — the
    * loader-side entry point ([[graft.queries.Curation.readShards]]'s
    * stated consumer): two-level reproducible shuffle keyed by
    * (epoch, doc_id). Extracted from q102 so the schedule computed on a
    * read-back shard store is definitionally the same computation as on
    * the pre-export frame. */
  def epochShuffleOn(docs: org.apache.spark.sql.DataFrame,
      epoch: String = "epoch1", shards: Int = 16): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("k"), col("doc_id"))
    docs
      .select(col("doc_id"),
        md5(concat(lit(s"$epoch:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("shard", Rand.u32(col("k")) % shards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** [[epochShuffleOn]] honoring REPEAT MULTIPLICITIES (q104's
    * data-constrained schedule, carried by the shard store's `repeats`
    * column): each document appears `repeats` times in the epoch order,
    * each instance independently placed by hashing (epoch, doc_id,
    * instance) — so a 4-epoch-tier document's four instances spread
    * across shards instead of clumping, and a 0-repeats document never
    * schedules. Same two-level shape: one hash shuffle, per-shard sorts;
    * the explode multiplies rows by the mean repeat factor (≤ 4) before
    * the exchange, nothing else changes. */
  def epochScheduleOn(docs: org.apache.spark.sql.DataFrame,
      epoch: String = "epoch1", shards: Int = 16): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("k"), col("doc_id"), col("rep"))
    docs
      .filter(col("repeats") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(1L), col("repeats").cast("long"))).as("rep"))
      .withColumn("k", md5(concat_ws(":", lit(epoch),
        col("doc_id").cast("string"), col("rep").cast("string"))))
      .withColumn("shard", Rand.u32(col("k")) % shards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("rep"), col("shard"), col("pos"))
  }

  private val q102 = {
    val shards = 16
    GraftQuery(
      "q102_epoch_shuffle",
      (spark, dir) =>
        epochShuffleOn(Tables.documents(spark, dir), "epoch1", shards)
          .orderBy("shard", "pos"),
      Some(s"""
        WITH d AS (
          SELECT doc_id, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS k
          FROM documents),
        s AS (
          SELECT doc_id, k,
                 ${Rand.u32Sql("k")} % $shards AS shard
          FROM d)
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                 AS BIGINT) AS pos
        FROM s
        ORDER BY shard, pos"""),
      headline = true)
  }

  /** Q103: packing-efficiency AUDIT — the measurement that justifies q53's
    * existence and picks the sequence length: for each candidate seq_len,
    * compare the token waste of pad-to-length batching (every document
    * padded up to a multiple of L — the naive loader) against packed
    * batching (per-source concatenation cut at L — q53's regime, ≤ L−1
    * waste per SOURCE instead of per document). Padding waste at a given
    * corpus is a pure corpus statistic (Krell et al., 2021, arXiv
    * 2107.02027 measure ~50% padding waste on Wikipedia at L=512 —
    * public paper); teams run exactly this audit before committing a
    * sequence length. All counts integer; the two waste rates are exact
    * BIGINT÷BIGINT → double.
    *
    * Scale shape: one corpus scan reduced at the source to (source,
    * n_tok); the L dimension explodes a 4-element literal array (output
    * 4 rows); the only shuffles aggregate onto the 4-row / |sources|-row
    * keyspaces — partial-agg everywhere, nothing scales with the corpus
    * but the scan. */
  private val q103 = {
    val lens = Seq(128L, 256L, 512L, 1024L)
    GraftQuery(
      "q103_packing_efficiency",
      (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        val ls = explode(array(lens.map(lit): _*)).as("seq_len")
        val pad = d.select(col("n_tok"), ls)
          .groupBy("seq_len")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tok").as("total_tokens"),
            sum(expr("((n_tok + seq_len - 1) div seq_len) * seq_len"))
              .as("padded_tokens"))
        val src = d.groupBy("source").agg(sum("n_tok").as("src_tok"))
        val pk = src.select(col("src_tok"), ls)
          .groupBy("seq_len")
          .agg(sum(expr("(src_tok + seq_len - 1) div seq_len")).as("packed_seqs"))
        pad.join(pk, Seq("seq_len"))
          .select(col("seq_len"), col("n_docs"), col("total_tokens"),
            col("padded_tokens"),
            ((col("padded_tokens") - col("total_tokens")).cast("double") /
              col("padded_tokens")).as("pad_waste"),
            col("packed_seqs"),
            ((col("packed_seqs") * col("seq_len") - col("total_tokens"))
              .cast("double") / (col("packed_seqs") * col("seq_len")))
              .as("packed_waste"))
          .orderBy("seq_len")
      },
      Some(s"""
        WITH d AS (
          SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        ls AS (SELECT CAST(unnest([${lens.mkString(", ")}]) AS BIGINT) AS seq_len),
        pad AS (
          SELECT l.seq_len, count(*) AS n_docs,
                 CAST(sum(d.n_tok) AS BIGINT) AS total_tokens,
                 CAST(sum(((d.n_tok + l.seq_len - 1) // l.seq_len) * l.seq_len)
                   AS BIGINT) AS padded_tokens
          FROM d CROSS JOIN ls l GROUP BY l.seq_len),
        src AS (
          SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tok
          FROM d GROUP BY source),
        pk AS (
          SELECT l.seq_len,
                 CAST(sum((s.src_tok + l.seq_len - 1) // l.seq_len) AS BIGINT)
                   AS packed_seqs
          FROM src s CROSS JOIN ls l GROUP BY l.seq_len)
        SELECT p.seq_len, p.n_docs, p.total_tokens, p.padded_tokens,
               CAST(p.padded_tokens - p.total_tokens AS DOUBLE)
                 / p.padded_tokens AS pad_waste,
               k.packed_seqs,
               CAST(k.packed_seqs * p.seq_len - p.total_tokens AS DOUBLE)
                 / (k.packed_seqs * p.seq_len) AS packed_waste
        FROM pad p JOIN pk k USING (seq_len)
        ORDER BY seq_len"""),
    headline = true)
  }

  /** Q105: LEAKAGE-SAFE split — the group-aware refinement of q59's
    * hold-out assignment: a near-duplicate pair split across train and
    * test is silent evaluation leakage (the published reason dedup
    * precedes splitting — Lee et al., ACL'22 §6 measure test-set overlap
    * inflating LM scores; GroupKFold is the classical ML form of the
    * fix), so documents are assigned to splits BY DUPLICATE CLUSTER, not
    * individually: every member of a q30/q36 near-dup cluster carries its
    * cluster canonical as the split key, singletons carry themselves, and
    * the 80/10/10 gate is the repo-standard md5 uniform on that group
    * key — whole clusters land in one split, bit-reproducibly.
    *
    * The gate is Bernoulli-by-group (q56's style), not q59's
    * exact-per-stratum rank cut: exactness per source cannot coexist
    * with cluster atomicity when clusters span sources, and the whole
    * point is atomicity.
    *
    * Scale shape: q36's resolution bounds (one keyed shuffle per round
    * on the near-dup-density-sized edge set), one left join of the
    * corpus against the (small) label table, then narrow hashing — no
    * additional corpus shuffle. */
  private val q105 = GraftQuery(
    "q105_leakage_safe_split",
    (spark, dir) => {
      val labels = graft.queries.Dedup.resolveClusters(
        graft.queries.Dedup.minhashPairs(spark, dir).select("doc_a", "doc_b"))
      Tables.documents(spark, dir).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("group_key", coalesce(col("canonical"), col("doc_id")))
        .select(col("doc_id"), col("group_key"),
          GroupSplit.splitCol(col("group_key")).as("split"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE ${graft.queries.Dedup.minhashPairsSql},
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
      k AS (
        SELECT d.doc_id, coalesce(l.canonical, d.doc_id) AS group_key
        FROM documents d LEFT JOIN labels l USING (doc_id))
      SELECT doc_id, group_key,
             ${GroupSplit.splitSql("group_key")} AS split
      FROM k ORDER BY doc_id"""),
    headline = true)

  /** Q120: domain mixture reweighting — the multiplicative-weights
    * kernel of DoReMi (Xie et al., NeurIPS'23, arXiv 2305.10429 — public
    * paper): upweight domains with EXCESS loss over the current
    * mixture's weighted mean, renormalize, iterate. Real DoReMi gets its
    * per-domain losses from a proxy-model training run (an X1-class
    * boundary); the data-plane stand-in here is a deterministic hardness
    * proxy — chars-per-token in ppm — so the weight-update kernel itself
    * is exactly reproducible and oracle-checked. All arithmetic is
    * non-negative integer ppm with floor division (the q100 rule):
    * m_k = ⌊Σ w·loss / 10⁶⌋ (the mixture's weighted mean loss),
    * w' = ⌊w·(10⁶ + max(loss − m_k, 0)) / 10⁶⌋, then renormalize to ppm —
    * bit-identical across engines, no exp/log (the published update's
    * exp(η·excess) is first-order (1 + η·excess), the standard MW
    * approximation, with η = 1 ppm⁻¹).
    *
    * Scale shape: ONE corpus pass (per-source count/char/token sums —
    * partial-agg groupBy on |sources| keys); the 5 MW rounds run on the
    * |sources|-row table driver-side (the k-means centroid / BPE-argmax
    * pattern — O(|domains|) driver state, zero extra cluster work). At
    * 100 TB nothing but the single scan grows. */
  private val q120 = {
    val Rounds = 5
    val M = 1000000L
    GraftQuery(
      "q120_domain_reweight",
      (spark, dir) => {
        import spark.implicits._
        val agg = Tables.documents(spark, dir)
          .select(col("source"), col("n_chars").cast("long").as("nc"),
            size(split(col("text"), " ")).cast("long").as("nt"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("nc").as("chars"),
            sum("nt").as("toks"))
          .orderBy("source")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        // BigInt: c * 1e6 would overflow Long SILENTLY past ~9e12 chars
        // per source (a 100 TB corpus easily exceeds it) and feed garbage
        // into the weight loop. DuckDB's BIGINT multiply does not promote
        // — it ABORTS on overflow — so past that scale the oracle fails
        // loudly while this side stays exact; at every oracle-checked
        // scale both are exact and equal. The quotient itself (ppm
        // chars/token) always fits a Long.
        val loss = agg.map { case (_, _, c, t) => (BigInt(c) * M / t).toLong }
        var w = Array.fill(agg.length)(M / agg.length)
        for (_ <- 1 to Rounds) {
          // BigInt on every product: wi·li and wi·(M + excess) are Long
          // products that silently wrap once loss_ppm nears ~9.2e12
          // (degenerate chars-per-token sources), while DuckDB aborts
          // loudly on BIGINT overflow — keep both sides exact instead.
          val m = (w.zip(loss).map { case (wi, li) => BigInt(wi) * li }
            .sum / M).toLong
          val raw = w.zip(loss).map { case (wi, li) =>
            (BigInt(wi) * (M + math.max(li - m, 0L)) / M).toLong }
          val tot = raw.sum
          // raw * 1e6 approaches Long.MaxValue once the hardness proxy
          // nears 1e7 ppm — same treatment
          w = raw.map(r => (BigInt(r) * M / tot).toLong)
        }
        agg.zipWithIndex.map { case ((s, n, _, _), i) =>
          (s, n, loss(i), M / agg.length, w(i))
        }.toSeq
          .toDF("source", "n_docs", "loss_ppm", "w0_ppm", "w_ppm")
          .orderBy("source")
      },
      Some {
        val rounds = (1 to Rounds).map { k =>
          val prev = if (k == 1) "r0" else s"n${k - 1}"
          s"""r$k AS (
            SELECT source, n_docs, loss_ppm,
                   (w * (1000000 + GREATEST(loss_ppm -
                      (SUM(w * loss_ppm) OVER ()) // 1000000, 0))) // 1000000
                     AS raw
            FROM $prev),
          n$k AS (
            SELECT source, n_docs, loss_ppm,
                   (raw * 1000000) // (SUM(raw) OVER ()) AS w
            FROM r$k)"""
        }.mkString(",\n")
        s"""
        WITH base AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS chars,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
          FROM documents GROUP BY source),
        r0 AS (
          SELECT source, n_docs, (chars * 1000000) // toks AS loss_ppm,
                 1000000 // (SELECT count(*) FROM base) AS w
          FROM base),
        $rounds
        SELECT source, n_docs, loss_ppm,
               CAST(1000000 // (SELECT count(*) FROM base) AS BIGINT) AS w0_ppm,
               CAST(w AS BIGINT) AS w_ppm
        FROM n$Rounds
        ORDER BY source"""},
      headline = true)
  }

  /** Q129: annealing-phase schedule — the end-of-training quality anneal
    * (Llama-3-style: finish training on the best data) as a DATA operator.
    * The highest-quality documents whose cumulative token mass stays within
    * 1/10 of the corpus total form the `anneal` phase (trained last);
    * everything else is `main`. The split is BUCKET-granular (1024
    * fixed-width quality buckets), deliberately: an exact per-document
    * cumulative sum is a global single-partition window — a scale-killer at
    * 100 TB — while the bucket rollup is one keyed aggregation to ≤1024
    * rows, a driver-scale window over those, and a broadcast join back; the
    * phase boundary lands within one bucket (≤0.1% of the quality range) of
    * the exact token budget. The gate arithmetic is all-integer
    * (`cum*10 <= total` — no float comparison to drift); quality_score
    * reuses q21's bit-exact expression tree. */
  /** q129's phase assignment over an arbitrary documents frame — the
    * (doc_id, bucket, n_tokens, quality_score, phase) schedule q130's
    * curriculum ordering consumes. */
  private[queries] def annealPhasedOn(docs: DataFrame): DataFrame = {
    val bucketed = Text.qualityScoredOn(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        least(floor(col("quality_score") * lit(1024.0)), lit(1023L))
          .as("bucket"))
    val byBucket = bucketed.groupBy("bucket")
      .agg(sum("n_tokens").as("bucket_tokens"))
    val totals = byBucket.agg(sum("bucket_tokens").as("total_tokens"))
    val w = Window.partitionBy(oneGroup(col("bucket").cast("string")))
      .orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phased = byBucket
      .withColumn("cum_tokens", sum("bucket_tokens").over(w))
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        when(col("cum_tokens") * 10 <= col("total_tokens"), lit("anneal"))
          .otherwise(lit("main")).as("phase"))
    bucketed.join(broadcast(phased), Seq("bucket"))
      .select("doc_id", "bucket", "n_tokens", "quality_score", "phase")
  }

  /** The matching DuckDB CTE chain, ending in relation `anneal_phase`
    * with columns (doc_id, bucket, n_tokens, quality_score, phase). */
  private[queries] val annealPhasedSqlCtes: String = s"""
      ${Text.qualityScoredSql},
      bucketed AS (
        SELECT doc_id, n_tokens, quality_score,
               least(CAST(floor(quality_score * 1024.0) AS BIGINT), 1023) AS bucket
        FROM quality
      ), by_bucket AS (
        SELECT bucket, CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
        FROM bucketed GROUP BY bucket
      ), phased AS (
        SELECT bucket,
               CAST(sum(bucket_tokens) OVER (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_tokens
        FROM by_bucket
      ), tot AS (
        SELECT CAST(sum(bucket_tokens) AS BIGINT) AS total_tokens FROM by_bucket
      ), anneal_phase AS (
        SELECT b.doc_id, b.bucket, b.n_tokens, b.quality_score,
               CASE WHEN p.cum_tokens * 10 <= t.total_tokens
                    THEN 'anneal' ELSE 'main' END AS phase
        FROM bucketed b JOIN phased p USING (bucket) CROSS JOIN tot t
      )"""

  private val q129 = GraftQuery(
    "q129_anneal_schedule",
    (spark, dir) =>
      annealPhasedOn(Tables.documents(spark, dir)).orderBy("doc_id"),
    Some(s"""
      WITH $annealPhasedSqlCtes
      SELECT doc_id, bucket, n_tokens, quality_score, phase
      FROM anneal_phase
      ORDER BY doc_id"""),
    headline = true)

  /** Q130: curriculum order — q129's phase schedule composed with q102's
    * two-level reproducible shuffle into the order a training loader
    * actually consumes: all `main`-phase documents first (phase_order 0),
    * the `anneal` phase last (phase_order 1, Llama-3's end-of-training
    * anneal), each phase independently md5-shuffled into [[shards]]
    * shards with dense per-shard positions. The loader reads
    * (phase_order, shard, pos) ascending.
    *
    * Scale shape is exactly q102's: one hash exchange keyed on
    * (phase_order, shard) — 2×16 groups here, shards sized to the
    * cluster in production — then perfectly parallel per-shard sorts;
    * never a global ORDER BY over the corpus. The phase assignment
    * rides q129's bucket-granular machinery (≤1024-row control plane),
    * so the composition adds NO new scale risk to either ingredient. */
  private val q130 = {
    val shards = 16
    GraftQuery(
      "q130_curriculum_order",
      (spark, dir) => {
        val w = Window.partitionBy("phase_order", "shard")
          .orderBy(col("k"), col("doc_id"))
        annealPhasedOn(Tables.documents(spark, dir))
          .select(col("doc_id"), col("phase"),
            when(col("phase") === "main", lit(0)).otherwise(lit(1))
              .as("phase_order"),
            md5(concat(lit("cur1:"), col("doc_id").cast("string"))).as("k"))
          .withColumn("shard", Rand.u32(col("k")) % shards)
          .withColumn("pos", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("phase"), col("phase_order"),
            col("shard"), col("pos"))
          .orderBy("phase_order", "shard", "pos")
      },
      Some(s"""
        WITH $annealPhasedSqlCtes,
        cu AS (
          SELECT doc_id, phase,
                 CASE WHEN phase = 'main' THEN 0 ELSE 1 END AS phase_order,
                 md5('cur1:' || CAST(doc_id AS VARCHAR)) AS k
          FROM anneal_phase),
        s AS (
          SELECT doc_id, phase, phase_order, k,
                 ${Rand.u32Sql("k")} % $shards AS shard
          FROM cu)
        SELECT doc_id, phase, phase_order, shard,
               CAST(row_number() OVER (PARTITION BY phase_order, shard
                                       ORDER BY k, doc_id) AS BIGINT) AS pos
        FROM s
        ORDER BY phase_order, shard, pos"""),
      headline = true)
  }

  val all: Seq[GraftQuery] =
    Seq(q53, q56, q59, q60, q61, q62, q63, q64, q65, q69, q102, q103, q105,
      q120, q129, q130)
}
