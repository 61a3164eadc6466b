package graft.queries

import graft.{GraftQuery, Tables}
import graft.plans.GraftExtensions.kernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline extras (token counting, quality scoring, language
  * profiling, content fingerprinting). Reference analogues: the converter's
  * text statistics (SURVEY §2.4 A3–A5) and the tolerant text readers; the
  * operators themselves are the north-star additions.
  *
  * All are narrow per-row transforms (no shuffle until the final small
  * aggregation), codegen-friendly (builtin higher-order functions, no UDFs),
  * and the expressions are written identically in the DuckDB oracle so
  * doubles stay bit-exact.
  */
object Text {

  /** Q20: token statistics per document — whitespace tokenization, unique
    * counts, char-level stats. At 100 TB this is a pure map stage fused into
    * whole-stage codegen; final ORDER BY is for oracle determinism only. */
  private val q20 = GraftQuery(
    "q20_token_stats",
    (spark, dir) =>
      Tables.documents(spark, dir)
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_uniq_tokens"),
          length(col("text")).as("n_chars_actual"),
          (length(replace(col("text"), lit(" "), lit(""))).cast("double") /
            size(col("toks"))).as("avg_token_len"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
             length(text) AS n_chars_actual,
             CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len
      FROM documents
      ORDER BY doc_id"""))

  /** Q21's scorer, exposed (package-private) for reuse — q82 ranks
    * duplicate-cluster members by this exact score. Stopword ratio,
    * vocabulary diversity, length saturation, combined into one score;
    * fixed double expression tree => bit-exact across engines. Unordered:
    * callers own the final ORDER BY. */
  private[queries] def qualityScored(
      spark: org.apache.spark.sql.SparkSession, dir: String) =
    qualityScoredOn(Tables.documents(spark, dir))

  /** [[qualityScored]] over an arbitrary (doc_id, source, text, …) frame —
    * the composite pipeline (q124) scores each stage's SURVIVORS with the
    * same expression tree the oracle-checked q21/q99/q104 use on the full
    * table. */
  private[queries] def qualityScoredOn(docs: org.apache.spark.sql.DataFrame,
      carry: Seq[String] = Nil) =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        size(filter(col("toks"), t => t.isin("the", "a"))).cast("double") /
          col("n_tokens"))
      .withColumn("uniq_ratio",
        size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
      .withColumn("len_score",
        least(lit(1.0), col("n_tokens").cast("double") / lit(100.0)))
      .select(
        col("doc_id") +: col("source") +: col("n_tokens") +:
          col("stop_ratio") +: col("uniq_ratio") +: col("len_score") +:
          (lit(0.3) * col("len_score") +
            lit(0.4) * (lit(1.0) - col("stop_ratio")) +
            lit(0.3) * col("uniq_ratio")).as("quality_score") +:
          carry.map(col): _*)

  /** The matching DuckDB CTE chain ending in a `quality` CTE with the same
    * six columns, parameterized over the source relation (q124 feeds it a
    * survivor CTE instead of the base table). */
  private[queries] def qualityScoredSqlFrom(src: String): String =
    s"""qt AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM $src
      ), qf AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / len(toks) AS stop_ratio,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
               least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS len_score
        FROM qt
      ), quality AS (
        SELECT doc_id, n_tokens, stop_ratio, uniq_ratio, len_score,
               0.3 * len_score + 0.4 * (1.0 - stop_ratio) + 0.3 * uniq_ratio AS quality_score
        FROM qf
      )"""

  private[queries] val qualityScoredSql: String =
    qualityScoredSqlFrom("documents")

  /** Q21: document quality scoring — stopword ratio, vocabulary diversity,
    * length saturation, combined into one score. Mirrors the reference's
    * runtime data-quality gates (SURVEY §5) as a scored column instead of a
    * hard filter. */
  private val q21 = GraftQuery(
    "q21_quality_score",
    (spark, dir) => qualityScored(spark, dir).drop("source").orderBy("doc_id"),
    Some(s"""
      WITH $qualityScoredSql
      SELECT doc_id, n_tokens, stop_ratio, uniq_ratio, len_score, quality_score
      FROM quality
      ORDER BY doc_id"""),
    headline = true)

  /** Q22: corpus language profile — per-language doc counts, char volume,
    * and a marker-based English-likeness signal (n-gram-heuristic language
    * ID reduced to its deterministic core: marker-token rates). */
  private val q22 = GraftQuery(
    "q22_lang_profile",
    (spark, dir) =>
      Tables.documents(spark, dir)
        .withColumn("has_en_marker",
          when(col("text").contains("the") || col("text").contains("a"), 1L)
            .otherwise(0L))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("has_en_marker")).as("n_en_marker"))
        .withColumn("en_marker_rate",
          col("n_en_marker").cast("double") / col("n_docs"))
        .orderBy("lang"),
    Some("""
      SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
             count(DISTINCT source) AS n_sources,
             CAST(sum(CASE WHEN contains(text, 'the') OR contains(text, 'a') THEN 1 ELSE 0 END) AS BIGINT) AS n_en_marker,
             CAST(sum(CASE WHEN contains(text, 'the') OR contains(text, 'a') THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS en_marker_rate
      FROM documents
      GROUP BY lang
      ORDER BY lang"""))

  /** Q23: content fingerprinting — md5 over the sorted distinct vocabulary
    * (order-insensitive content hash, the scalable analogue of the
    * reference's file-hash cache keys F18 `cache_manager.py:78-87`). Docs
    * sharing a fingerprint are exact bag-of-words duplicates. */
  private val q23 = GraftQuery(
    "q23_fingerprint",
    (spark, dir) =>
      Tables.documents(spark, dir)
        .withColumn("fingerprint",
          md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))))
        .groupBy(col("fingerprint"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .orderBy("min_doc"),
    Some("""
      SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
             count(*) AS n_docs, min(doc_id) AS min_doc
      FROM documents
      GROUP BY 1
      ORDER BY min_doc"""))

  /** Q26: PII redaction — e-mail / phone / IPv4 scrubbing, the standard
    * pre-training compliance pass over raw text. The synthetic corpus
    * carries no PII, so the query plants deterministic doc_id-derived
    * contact strings in 6 of every 7 documents (built identically in the
    * oracle; the 7th exercises the no-match path) and then redacts them.
    * The operator under test is the regex-replace chain — a pure narrow
    * map in whole-stage codegen, embarrassingly parallel at 100 TB. Match
    * counts are taken pre-redaction; the redacted text ships as md5 so
    * the byte-exact comparison doesn't haul full rows. The patterns stay
    * inside the syntax both Java regex and RE2 treat identically (char
    * classes, bounded quantifiers — no lookaround, which RE2 lacks). */
  private val q26 = {
    val emailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val ipRe = "10\\.[0-9]{1,3}\\.0\\.[0-9]{1,3}"
    GraftQuery(
      "q26_redact_pii",
      (spark, dir) => {
        val planted = Tables.documents(spark, dir)
          .withColumn("raw",
            when(col("doc_id") % 7 === 6, col("text"))
              .otherwise(concat(
                col("text"),
                lit(" contact user"), col("doc_id").cast("string"),
                lit("@mail.example.com or +1-555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
                lit(" at 10."), (col("doc_id") % 256).cast("string"),
                lit(".0."), ((col("doc_id") * 7) % 256).cast("string"))))
        val redacted = regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), lit(emailRe), lit("<EMAIL>")),
            lit(phoneRe), lit("<PHONE>")),
          lit(ipRe), lit("<IP>"))
        planted.select(
          col("doc_id"),
          regexp_count(col("raw"), lit(emailRe)).as("n_email"),
          regexp_count(col("raw"), lit(phoneRe)).as("n_phone"),
          regexp_count(col("raw"), lit(ipRe)).as("n_ip"),
          md5(redacted).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 6 THEN text
                      ELSE text || ' contact user' || CAST(doc_id AS VARCHAR)
                           || '@mail.example.com or +1-555-'
                           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           || ' at 10.' || CAST(doc_id % 256 AS VARCHAR)
                           || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                 END AS raw
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw, '$emailRe')) AS INTEGER) AS n_email,
               CAST(len(regexp_extract_all(raw, '$phoneRe')) AS INTEGER) AS n_phone,
               CAST(len(regexp_extract_all(raw, '$ipRe')) AS INTEGER) AS n_ip,
               md5(regexp_replace(regexp_replace(regexp_replace(raw,
                   '$emailRe', '<EMAIL>', 'g'),
                   '$phoneRe', '<PHONE>', 'g'),
                   '$ipRe', '<IP>', 'g')) AS redacted_md5
        FROM planted
        ORDER BY doc_id"""))
  }

  /** Q24: BPE-style tokenization + rolling-hash fingerprint. The
    * tokenizer is the GPT-2 pre-tokenizer's regex core (contraction
    * suffixes, space-prefixed letter/digit/punctuation runs) — the
    * standard way to count "model tokens" without shipping a merges
    * table; the fingerprint is a 31-ary polynomial rolling hash over the
    * raw characters mod 1e9+7 (pure integer math, bit-exact across
    * engines, order-SENSITIVE — complementing q23's order-insensitive
    * bag-of-words hash). Both are narrow per-row transforms. */
  private val q24 = GraftQuery(
    "q24_bpe_tokens",
    (spark, dir) => {
      val pat = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
      val toks = expr(s"regexp_extract_all(text, \"$pat\", 0)")
      // compiled per-char fold (plans/RollingHash) — the interpreted
      // aggregate(transform(sequence(...))) spelling walks every character
      // through a lambda per step
      val roll = kernel("rolling_hash", col("text"))
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          size(toks).as("n_bpe_tokens"),
          size(array_distinct(toks)).as("n_uniq_bpe"),
          roll.as("rolling_hash"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+', 0)) AS INT) AS n_bpe_tokens,
             CAST(len(list_distinct(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+', 0))) AS INT) AS n_uniq_bpe,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, length(text)),
                   i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 1000000007) AS rolling_hash
      FROM documents
      ORDER BY doc_id"""))

  /** Q25: n-gram language identification, the classic profile method as
    * pure relational ops: learn each language's top-20 character trigrams
    * from an 80% hash split, score held-out documents by distinct-trigram
    * overlap with each profile, predict the best-scoring language
    * (deterministic ties: score desc, language asc), and report the
    * confusion matrix.
    *
    * Scale shape: profile building is groupBy(lang, trigram) with partial
    * aggregation; profiles are tiny (languages × 20) and broadcast to the
    * scoring join; the only wide edges key on (doc, lang) pairs. Held-out
    * docs matching NO profile trigram drop out (inner-join semantics,
    * mirrored in the oracle). */
  private val q25 = GraftQuery(
    "q25_lang_id",
    (spark, dir) => {
      // compiled trigram expression: the profile build walks every char of
      // the corpus, and the interpreted transform(sequence(...)) lambda
      // was ~all of q25's runtime (see plans/CharNgrams)
      val docs = Tables.documents(spark, dir)
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"), col("lang"), col("text"))
      val profile = docs.filter(col("doc_id") % 10 < 8)
        .select(col("lang"),
          explode(kernel("char_ngrams", col("text"), lit(3), lit(false))).as("t"))
        .groupBy("lang", "t").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("n").desc, col("t"))))
        .filter(col("rk") <= 20)
        .select(col("lang").as("profile_lang"), col("t"))
      val scores = docs.filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"), col("lang"),
          explode(kernel("char_ngrams", col("text"), lit(3), lit(true))).as("t"))
        .join(broadcast(profile), "t")
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(count(lit(1)).as("score"))
      scores.withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("profile_lang"))))
        .filter(col("rk") === 1)
        .groupBy(col("lang"), col("profile_lang").as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "predicted")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang,
               list_transform(generate_series(1, length(text) - 2),
                 i -> substring(text, i, 3)) AS tg
        FROM documents WHERE length(text) >= 3),
      tr AS (SELECT lang, unnest(tg) AS t FROM d WHERE doc_id % 10 < 8),
      cnt AS (SELECT lang, t, count(*) AS n FROM tr GROUP BY lang, t),
      prof AS (
        SELECT lang AS profile_lang, t FROM (
          SELECT lang, t,
                 row_number() OVER (PARTITION BY lang ORDER BY n DESC, t) AS rk
          FROM cnt)
        WHERE rk <= 20),
      te AS (
        SELECT doc_id, lang, unnest(list_distinct(tg)) AS t
        FROM d WHERE doc_id % 10 >= 8),
      sc AS (
        SELECT doc_id, lang, profile_lang, count(*) AS score
        FROM te JOIN prof USING (t)
        GROUP BY doc_id, lang, profile_lang),
      pred AS (
        SELECT doc_id, lang, profile_lang FROM (
          SELECT sc.*,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, profile_lang) AS rk
          FROM sc)
        WHERE rk = 1)
      SELECT lang, profile_lang AS predicted, count(*) AS n_docs
      FROM pred
      GROUP BY lang, profile_lang
      ORDER BY lang, predicted"""),
    headline = true)

  /** Q39: Gopher/MassiveText REPETITION filters (Rae et al. 2021, arXiv
    * 2112.11446, Table A1 — public paper; the document-level companion
    * to the cross-document dedup batch): per document, the fraction of
    * characters attributable to (a) the single MOST FREQUENT word 2-gram
    * (ties broken toward the longest gram; attribution = occurrences ×
    * gram length, matching the published implementations — pathological
    * overlap can push it past 1), (b) the most frequent 3-gram, and
    * (c) all 5-grams occurring more than once, where each character is
    * counted AT MOST ONCE (interval union over the duplicated
    * occurrences — the paper's "fraction of characters contained in
    * duplicate n-grams", always ≤ 1). A document `keep`s when all three
    * sit under the published thresholds (0.20 / 0.18 / 0.15). The
    * synthetic corpus is single-line, so Gopher's duplicate-line rules
    * are vacuous here; the n-gram family is the load-bearing one (and
    * q21 already covers the non-repetition quality signals).
    *
    * Scale shape: one compiled NON-DISTINCT shingle pass per n
    * (graft.plans.WordShingles with distinct=false — occurrence counts
    * need every gram; never an interpreted corpus-walk HOF), partial-agg
    * groupBys on the unbounded (doc, gram) keyspace; the top-gram
    * arg-max is a lexicographic struct max (same semantics both
    * engines); dup-5-gram coverage is the q15/q28 interval idiom — token
    * char offsets from one prefix-sum window, duplicated occurrences
    * joined on (doc, token index), union length from a running-max
    * window, everything partitioned on doc_id. Char attributions are
    * integer products; only the final fraction divides — bit-exact vs
    * the oracle's identical spelling. */
  private val q39 = GraftQuery(
    "q39_repetition_filters",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), length(col("text")).as("tl"))
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      def counts(n: Int) = docs
        .filter(size(split(col("text"), " ")) >= n)
        .select(col("doc_id"), col("tl"),
          explode(kernel("word_shingles", col("text"), lit(n), lit(false))).as("gram"))
        .groupBy(col("doc_id"), col("gram"))
        .agg(max(col("tl")).as("tl"), count(lit(1)).as("c"))
      // arg-max by (count, gram length): the most frequent gram, longest
      // among equally-frequent — struct max is lexicographic in BOTH
      // engines, so the oracle agrees on every tie
      def top(n: Int, alias: String) = counts(n).groupBy("doc_id")
        .agg(max(struct(col("c"), length(col("gram")).as("l"))).as("m"),
          max(col("tl")).as("tl"))
        .select(col("doc_id"),
          ((col("m.c") * col("m.l")).cast("double") / col("tl")).as(alias))
      // duplicated-5-gram coverage, each char once: token offsets by
      // prefix sum, occurrence intervals [start, start+len-1], union
      // length via running max of interval ends
      val toks = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("i", "tok")))
      val wTok = Window.partitionBy("doc_id").orderBy("i")
      val starts = toks.withColumn("start",
          lit(1) + coalesce(sum(length(col("tok")) + 1)
            .over(wTok.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("doc_id", "i", "start")
      val occ5 = docs
        .filter(size(split(col("text"), " ")) >= 5)
        .select(col("doc_id"), col("tl"),
          posexplode(kernel("word_shingles", col("text"), lit(5), lit(false))).as(Seq("i", "gram")))
      val dupGrams = occ5.groupBy("doc_id", "gram")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .select("doc_id", "gram")
      val intervals = occ5.join(dupGrams, Seq("doc_id", "gram"))
        .join(starts, Seq("doc_id", "i"))
        .select(col("doc_id"), col("tl"), col("start"),
          (col("start") + length(col("gram")) - 1).as("e"))
      val wCov = Window.partitionBy("doc_id").orderBy("start")
      val dup5 = intervals
        .withColumn("prev_e", coalesce(max(col("e"))
          .over(wCov.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .groupBy("doc_id")
        .agg((sum(greatest(lit(0L),
            col("e") - greatest(col("start") - 1, col("prev_e"))))
          .cast("double") / max(col("tl"))).as("frac_dup5"))
      docs.select(col("doc_id"))
        .join(top(2, "frac_top2"), Seq("doc_id"), "left")
        .join(top(3, "frac_top3"), Seq("doc_id"), "left")
        .join(dup5, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("frac_top2"), lit(0.0)).as("frac_top2"),
          coalesce(col("frac_top3"), lit(0.0)).as("frac_top3"),
          coalesce(col("frac_dup5"), lit(0.0)).as("frac_dup5"))
        .withColumn("keep",
          col("frac_top2") <= 0.2 && col("frac_top3") <= 0.18 &&
            col("frac_dup5") <= 0.15)
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, length(text) AS tl, string_split(text, ' ') AS t
        FROM documents),
      g2 AS (
        SELECT doc_id, tl,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> concat_ws(' ', t[i], t[i+1]))) AS gram
        FROM d WHERE len(t) >= 2),
      c2 AS (SELECT doc_id, gram, max(tl) AS tl, count(*) AS c
             FROM g2 GROUP BY 1, 2),
      t2 AS (SELECT doc_id,
                    CAST((max(struct_pack(c := c, l := length(gram)))).c *
                         (max(struct_pack(c := c, l := length(gram)))).l
                      AS DOUBLE) / max(tl) AS frac_top2
             FROM c2 GROUP BY 1),
      g3 AS (
        SELECT doc_id, tl,
               unnest(list_transform(generate_series(1, len(t) - 2),
                 i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gram
        FROM d WHERE len(t) >= 3),
      c3 AS (SELECT doc_id, gram, max(tl) AS tl, count(*) AS c
             FROM g3 GROUP BY 1, 2),
      t3 AS (SELECT doc_id,
                    CAST((max(struct_pack(c := c, l := length(gram)))).c *
                         (max(struct_pack(c := c, l := length(gram)))).l
                      AS DOUBLE) / max(tl) AS frac_top3
             FROM c3 GROUP BY 1),
      toks AS (
        SELECT doc_id, i, t[i] AS tok
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
              FROM d)),
      starts AS (
        SELECT doc_id, i,
               1 + coalesce(sum(length(tok) + 1) OVER (PARTITION BY doc_id
                 ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS start
        FROM toks),
      g5 AS (
        SELECT doc_id, tl, i,
               concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS gram
        FROM (SELECT doc_id, tl, t, unnest(generate_series(1, len(t) - 4)) AS i
              FROM d WHERE len(t) >= 5)),
      dupg AS (
        SELECT doc_id, gram
        FROM (SELECT doc_id, gram, count(*) AS c FROM g5 GROUP BY 1, 2)
        WHERE c > 1),
      iv AS (
        SELECT g.doc_id, g.tl, s.start,
               s.start + length(g.gram) - 1 AS e
        FROM g5 g
        JOIN dupg USING (doc_id, gram)
        JOIN starts s ON s.doc_id = g.doc_id AND s.i = g.i),
      cov AS (
        SELECT doc_id, tl, start, e,
               coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_e
        FROM iv),
      d5 AS (
        SELECT doc_id,
               CAST(sum(greatest(0, e - greatest(start - 1, prev_e)))
                 AS DOUBLE) / max(tl) AS frac_dup5
        FROM cov GROUP BY 1)
      SELECT d.doc_id,
             coalesce(t2.frac_top2, 0.0) AS frac_top2,
             coalesce(t3.frac_top3, 0.0) AS frac_top3,
             coalesce(d5.frac_dup5, 0.0) AS frac_dup5,
             (coalesce(t2.frac_top2, 0.0) <= 0.2
               AND coalesce(t3.frac_top3, 0.0) <= 0.18
               AND coalesce(d5.frac_dup5, 0.0) <= 0.15) AS keep
      FROM d
      LEFT JOIN t2 USING (doc_id)
      LEFT JOIN t3 USING (doc_id)
      LEFT JOIN d5 USING (doc_id)
      ORDER BY doc_id"""),
    headline = true)

  /** Q55: Gopher/MassiveText QUALITY filters (Rae et al. 2021, arXiv
    * 2112.11446, Table A1 — public paper; the doc-level companion to
    * q39's repetition family): word count in [50, 100 000], mean word
    * length in [3, 10], symbol-to-word ratio ('#' / '…' / '...') ≤ 0.1,
    * ≥ 80% of words containing an alphabetic character, and ≥ 2 of the
    * paper's eight English stop words. Thresholds are the published
    * values, unmodified. The synthetic vocabulary carries only 'the'
    * from the stop list, which would leave the stop-word gate (and so
    * `keep`) uniformly false — so, exactly as q26 plants PII to exercise
    * its match path, the query appends the eight stop words to every
    * third document (identically in the oracle); `keep` then genuinely
    * splits on the word-count and stop-word gates. The paper's
    * line-level rules (bullet/ellipsis line ratios) are vacuous on the
    * single-line corpus — same accounting as q39's duplicate-line rules.
    *
    * Scale shape: a pure narrow map in one whole-stage-codegen span —
    * split once, every metric from the same token array, no shuffle at
    * all (the ORDER BY is oracle determinism only). At 100 TB this is
    * the cheapest possible pass: scan-bound, embarrassingly parallel. */
  private val q55 = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    GraftQuery(
      "q55_gopher_quality",
      (spark, dir) => {
        val toks = split(col("raw"), " ")
        Tables.documents(spark, dir)
          .withColumn("raw",
            when(col("doc_id") % 3 === 0,
              concat(col("text"), lit(" " + stops.mkString(" "))))
              .otherwise(col("text")))
          .withColumn("n_words", size(toks))
          .withColumn("mean_word_len",
            length(replace(col("raw"), lit(" "), lit(""))).cast("double") /
              col("n_words"))
          .withColumn("symbol_ratio",
            (regexp_count(col("raw"), lit("#")) +
              regexp_count(col("raw"), lit("\\.\\.\\.")) +
              regexp_count(col("raw"), lit("…"))).cast("double") / col("n_words"))
          .withColumn("frac_alpha",
            size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") /
              col("n_words"))
          .withColumn("n_stop",
            size(array_intersect(array_distinct(toks),
              array(stops.map(lit): _*))))
          .select(
            col("doc_id"), col("n_words"), col("mean_word_len"),
            col("symbol_ratio"), col("frac_alpha"), col("n_stop"),
            (col("n_words") >= 50 && col("n_words") <= 100000 &&
              col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
              col("symbol_ratio") <= 0.1 && col("frac_alpha") >= 0.8 &&
              col("n_stop") >= 2).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' ${stops.mkString(" ")}'
                      ELSE text END AS raw,
                 string_split(CASE WHEN doc_id % 3 = 0
                      THEN text || ' ${stops.mkString(" ")}'
                      ELSE text END, ' ') AS toks
          FROM documents
        ), m AS (
          SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_words,
                 CAST(length(replace(raw, ' ', '')) AS DOUBLE) / len(toks) AS mean_word_len,
                 CAST(len(regexp_extract_all(raw, '#'))
                      + len(regexp_extract_all(raw, '\\.\\.\\.'))
                      + len(regexp_extract_all(raw, '…')) AS DOUBLE) / len(toks) AS symbol_ratio,
                 CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                   / len(toks) AS frac_alpha,
                 CAST(len(list_intersect(list_distinct(toks),
                   [${stops.map(s => s"'$s'").mkString(", ")}])) AS INT) AS n_stop
          FROM t)
        SELECT doc_id, n_words, mean_word_len, symbol_ratio, frac_alpha, n_stop,
               (n_words >= 50 AND n_words <= 100000
                 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                 AND symbol_ratio <= 0.1 AND frac_alpha >= 0.8
                 AND n_stop >= 2) AS keep
        FROM m
        ORDER BY doc_id"""),
      headline = true)
  }

  /** Q54: boilerplate mining — the corpus-level top-k most document-
    * frequent word 5-grams (licence headers, navigation chrome, template
    * sentences in a real crawl). This is the DETECTION stage whose output
    * feeds span removal (q52) or a gram blocklist upstream of dedup; the
    * reference has no corpus-level analytics at all (its stats are
    * per-run counters), so this is a north-star addition like q29.
    *
    * Scale shape: one compiled distinct-shingle pass per doc (the q29
    * gram machinery), a partial-agg groupBy on the unbounded gram
    * keyspace, and a top-50 that compiles to TakeOrderedAndProject —
    * per-partition heaps, O(k) driver memory, never a global sort (the
    * q64 lesson). Ties at the cut are deterministic: (df DESC, gram). */
  private val q54 = GraftQuery(
    "q54_boilerplate_grams",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .filter(size(split(col("text"), " ")) >= 5)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(explode(kernel("word_shingles", col("text"), lit(5))).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("gram")).limit(50)
    },
    Some("""
      WITH sp AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 5),
      g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(generate_series(1, len(t) - 4),
                 i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS gram
        FROM sp)
      SELECT gram, count(*) AS df
      FROM g
      GROUP BY gram
      ORDER BY df DESC, gram
      LIMIT 50"""),
    headline = true)

  /** Q86: hashed-feature linear classifier scoring — the fasttext-style
    * quality/spam classifier pattern (hash each token into a feature
    * bucket, score = Σ weights, threshold on the margin; public technique,
    * no reference analogue). The "pretrained" weight table is a pure
    * function of the token's md5 (first two hex nibbles → [−128, 127]), so
    * model scoring compiles to a per-row expression: NO weight-table join,
    * no corpus-keyed shuffle — 100 TB scores in one fused map pass, which
    * is exactly how a real hashed linear model deploys (weights broadcast
    * or constant-folded, never shuffled). Margin stays in exact integer
    * arithmetic end-to-end; both engines fold the same token order.
    *
    * The explicit-count repartition is the standing local-mode fix (q29/
    * q39/q55 precedent): the testdata table is ONE parquet file = one scan
    * partition, and the md5-per-token fold is expensive narrow work that
    * otherwise runs on one core (probe: 150 k docs took 12 s serial; 500 k
    * the same 12 s once the file size earned a second partition). On a
    * real cluster the scan supplies the parallelism and this one narrow
    * hop is noise. */
  private val q86 = GraftQuery(
    "q86_linear_classifier",
    (spark, dir) =>
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          expr("""CAST(aggregate(transform(toks,
              t -> CAST(conv(substring(md5(t), 1, 2), 16, 10) AS LONG) - 128L),
            0L, (acc, x) -> acc + x) AS LONG)""").as("margin"))
        .withColumn("pred",
          when(col("margin") > 0, 1).otherwise(0).cast("int"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id, n_tokens, margin,
             CAST(CASE WHEN margin > 0 THEN 1 ELSE 0 END AS INTEGER) AS pred
      FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(list_reduce(list_transform(string_split(text, ' '),
                   t -> (strpos('0123456789abcdef', substring(md5(t), 1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substring(md5(t), 2, 1)) - 1) - 128),
                 (a, b) -> a + b) AS BIGINT) AS margin
        FROM documents)
      ORDER BY doc_id"""),
    headline = true)

  /** Q87: vocabulary-coverage scoring — the two-pass LM-lite familiarity
    * filter: pass 1 mines the corpus-global top-200 tokens by frequency
    * (deterministic ties by token), pass 2 scores every document by the
    * fraction of its token OCCURRENCES that fall in that vocabulary — the
    * cheap stand-in for LM-perplexity filtering (CCNet-style) that stays
    * exactly reproducible across engines (integer counts; one final exact
    * int÷int → double).
    *
    * Scale shape: pass 1 is a keyed partial-agg groupBy + top-k
    * (TakeOrdered heaps, never a global sort); the 200-token vocab
    * broadcasts into a hashed semi-join; the per-doc count and the final
    * join both reuse the shared doc_id partitioning — two hash shuffles
    * total for two corpus passes. */
  private val q87 = GraftQuery(
    "q87_vocab_coverage",
    (spark, dir) => {
      // same local-mode scan-parallelism fix as q86: tokenization is
      // expensive narrow work above a single-file scan partition. The
      // repartitioned frame is MATERIALIZED (q32's checkpoint pattern):
      // three consumers read it (vocab pass, scoring pass, base pass),
      // and as lazy subtrees each would rescan + reshuffle the corpus —
      // ReuseExchange cannot unify them because the semi-join side
      // carries an extra IsNotNull pushed filter (verified: 0 reuse, 3
      // scans). Two hash exchanges remain end-to-end (pinned).
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .localCheckpoint(eager = true)
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok")).limit(200).select("tok")
      // scoring pass: hashed broadcast semi-join for membership (an
      // array/map HOF lookup is a 200-element LINEAR scan per token in
      // Spark's interpreted MapData — measured 2× slower at 100×), then
      // per-doc counts. toks is already hash-partitioned by doc_id, so
      // the groupBy and the final left join add NO exchange: the whole
      // query holds exactly two hash shuffles (scan-parallelism + vocab
      // count), pinned in PlanShapeSpec.
      val counts = toks.join(broadcast(vocab), Seq("tok"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_in_vocab"))
      docs.select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        .join(counts, Seq("doc_id"), "left")
        .withColumn("n_in_vocab", coalesce(col("n_in_vocab"), lit(0L)))
        .withColumn("coverage",
          col("n_in_vocab").cast("double") / col("n_tokens"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      vocab AS (
        SELECT tok FROM (
          SELECT tok, count(*) AS freq FROM toks GROUP BY tok
          ORDER BY freq DESC, tok LIMIT 200)),
      cnt AS (
        SELECT doc_id, count(*) AS n_in_vocab FROM toks
        WHERE tok IN (SELECT tok FROM vocab) GROUP BY doc_id),
      base AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
      SELECT b.doc_id, b.n_tokens,
             CAST(COALESCE(c.n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
             CAST(COALESCE(c.n_in_vocab, 0) AS DOUBLE) / b.n_tokens AS coverage
      FROM base b LEFT JOIN cnt c USING (doc_id)
      ORDER BY doc_id"""),
    headline = true)

  /** Q89: bigram-LM familiarity scoring — the full KenLM-perplexity
    * filtering step of CCNet (Wenzek et al., LREC'20 §4.3: score every
    * document under an LM trained on a trusted reference corpus, filter
    * on the score) with the LM reduced to its exactly-reproducible core:
    * a bigram model with conditional probabilities P(w2|w1) =
    * c(w1,w2)/c(w1·) estimated on a held-out train slice (every 10th
    * document — deterministic, disjoint from the scored set), and the
    * document score the MEAN bigram probability plus the OOV-bigram rate.
    * Arithmetic stays in {+,/} on IEEE doubles with the per-doc sum
    * folded over the SORTED probability list (the q56 rule), so both
    * engines produce bit-identical scores — the reason this is a mean
    * and not a geometric mean: ln/exp are not bit-specified across
    * engines, and a familiarity ORDERING is what the filter consumes.
    *
    * Scale shape: the model is denormalized at train time (c1 joined
    * onto the bigram rows — one tiny-side join, so the CORPUS stream is
    * joined once, not twice), then scoring is one keyed left join of the
    * corpus bigram stream against the model on (w1,w2) — an unbounded
    * keyspace whose occupancy is true bigram frequency, linear in corpus
    * size with map-side partial agg on the train side. Per-doc state in
    * the final groupBy is bounded by document length. At 100 TB the
    * model table (train-slice bigram types) stays ≪ corpus and the join
    * is AQE-broadcastable when the slice is small; otherwise it is a
    * plain hash join on a well-spread key. */
  private val q89 = GraftQuery(
    "q89_lm_familiarity",
    (spark, dir) => {
      val bigrams = Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(arrays_zip(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
        .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
      val trainBig = bigrams.filter(col("doc_id") % 10 === 0)
        .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val trainUni = trainBig.groupBy("w1").agg(sum("c2").as("c1"))
      val model = trainBig.join(trainUni, Seq("w1"))
      bigrams.filter(col("doc_id") % 10 =!= 0)
        .join(model, Seq("w1", "w2"), "left")
        .withColumn("p", when(col("c2").isNull, lit(0.0))
          .otherwise(col("c2").cast("double") / col("c1")))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_oov"),
          // compiled ordered fold — same sorted order, same IEEE adds as
          // aggregate(array_sort(...)); the interpreted HOF paid a lambda
          // frame per bigram (round-20 optimization, SCALING.md round 20)
          kernel("sorted_sum_fold", collect_list(col("p"))).as("psum"))
        .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_bigrams")).as("oov_rate"),
          (col("psum") / col("n_bigrams")).as("familiarity"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      big AS (
        SELECT doc_id,
               unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2
        FROM t WHERE len(toks) >= 2),
      tb AS (
        SELECT w1, w2, count(*) AS c2 FROM big
        WHERE doc_id % 10 = 0 GROUP BY w1, w2),
      tu AS (
        SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM tb GROUP BY w1),
      model AS (
        SELECT tb.w1, tb.w2, tb.c2, tu.c1 FROM tb JOIN tu USING (w1)),
      j AS (
        SELECT b.doc_id,
               CASE WHEN m.c2 IS NULL THEN 1 ELSE 0 END AS oov,
               CASE WHEN m.c2 IS NULL THEN 0.0
                    ELSE CAST(m.c2 AS DOUBLE) / m.c1 END AS p
        FROM big b LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
        WHERE b.doc_id % 10 <> 0),
      s AS (
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(oov) AS BIGINT) AS n_oov,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_sort(list(p))), (a, b) -> a + b) AS psum
        FROM j GROUP BY doc_id)
      SELECT doc_id, n_bigrams, n_oov,
             CAST(n_oov AS DOUBLE) / n_bigrams AS oov_rate,
             psum / n_bigrams AS familiarity
      FROM s ORDER BY doc_id"""),
    headline = true)

  /** Q93: BPE merge training — the vocabulary-induction step of the
    * tokenizer itself (Sennrich et al., ACL'16, arXiv 1508.07909 —
    * public paper; the algorithm behind GPT-2/SentencePiece vocabularies),
    * distributed the way production trainers structure it: ONE corpus
    * pass reduces the text to the (word, frequency) vocabulary — the
    * Zipf-bounded table all iterations run on — then each of the 8 merge
    * rounds counts adjacent symbol pairs weighted by word frequency,
    * adopts the argmax pair (ties: lexicographic on the pair), and
    * rewrites the symbol sequences. Output: the learned merge table in
    * order — the artifact a tokenizer ships.
    *
    * Word symbol sequences are carried as strings — symbols joined by
    * DOUBLE spaces with single-space ends — so a merge application is one
    * `replace(' l  r ' → ' lr ')`: the double separator gives every
    * adjacent pair its own boundary spaces, so consecutive matches never
    * overlap and left-to-right `replace` applies the merge correctly in
    * BOTH engines ("a a a" → "aa a", the standard BPE greedy behavior).
    *
    * Scale shape: the corpus is touched ONCE (word-count groupBy, the
    * q87 pass-1 shape); every iteration is a groupBy on the pair key
    * over the CHECKPOINTED vocab table (≪ corpus, Zipf growth) plus a
    * driver collect of exactly one row — O(k) driver state for k merges,
    * the k-means centroid pattern. Per-iteration checkpoint keeps the
    * plan from deepening by one replace per round (the q36 lesson). */
  /** The shared BPE training loop behind q93 (merge table) and q95
    * (tokenizer application): returns the learned merges in order AND the
    * post-training vocabulary frame (word, repr, freq) — repr is the
    * word's final symbol sequence, which IS the trained tokenizer's
    * output for that word. The caller owns unpersisting the returned
    * frame. */
  private[queries] def bpeTrain(
      spark: org.apache.spark.sql.SparkSession, dir: String, nMerges: Int)
      : (Seq[(Int, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    val sep = "  "
    var vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), concat(lit(" "),
        rtrim(regexp_replace(col("word"), "(.)", s"$$1$sep")),
        lit(" ")).as("repr"), col("freq"))
      .localCheckpoint(eager = true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val pairs = vocab
        .select(col("freq"), split(trim(col("repr")), sep).as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("freq"),
          explode(arrays_zip(
            slice(col("sy"), lit(1), size(col("sy")) - 1),
            slice(col("sy"), lit(2), size(col("sy")) - 1))).as("bg"))
        .groupBy(col("bg.0").as("lsym"), col("bg.1").as("rsym"))
        .agg(sum(col("freq")).as("n_occ"))
      val best = pairs
        .orderBy(col("n_occ").desc, col("lsym"), col("rsym"))
        .limit(1).collect()
      // no adjacent pair left anywhere (every word is one symbol):
      // BPE training terminates — emit the merges learned so far
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, l, r, n))
        val next = vocab.select(col("word"),
          replace(col("repr"), lit(s" $l$sep$r "), lit(s" $l$r ")).as("repr"),
          col("freq")).localCheckpoint(eager = true)
        vocab.unpersist()
        vocab = next
        step += 1
      }
    }
    (merges.result(), vocab)
  }

  private val q93 = {
    val nMerges = 8
    GraftQuery(
      "q93_bpe_merges",
      (spark, dir) => {
        val (merges, vocab) = bpeTrain(spark, dir, nMerges)
        vocab.unpersist()
        import spark.implicits._
        merges.toDF("step", "lsym", "rsym", "n_occ")
          .select(col("step").cast("long"), col("lsym"), col("rsym"),
            col("n_occ"))
          .orderBy("step")
      },
      Some(s"""
        WITH ${bpeOracleCtes(nMerges)}
        SELECT * FROM (${(1 to nMerges).map(s =>
          s"SELECT CAST($s AS BIGINT) AS step, lsym, rsym, n_occ FROM b$s")
          .mkString("\n UNION ALL ")})
        ORDER BY step"""),
      headline = true)
  }

  /** The DuckDB twin of [[bpeTrain]], as a WITH-body: CTEs `w` (word
    * frequencies), `r0…r<n>` (symbol sequences after each merge, carrying
    * `word`), `p<s>`/`b<s>` (per-step pair counts / adopted merge).
    * NOTE: SparkEntry.oracleSql collapses whitespace runs to single
    * spaces before shipping the SQL, so the double-space separator must
    * be spelled as a concatenation (' ' || ' '), never as a two-space
    * literal; the r-levels are MATERIALIZED because each is referenced
    * twice and DuckDB would otherwise inline the chain 2^n times
    * (measured as fd exhaustion on the corpus scan). */
  private[queries] def bpeOracleCtes(nMerges: Int): String = {
    val d = "(' ' || ' ')"
    val levels = (1 to nMerges).map { s =>
      s"""p$s AS (
        SELECT lsym, rsym, CAST(sum(freq) AS BIGINT) AS n_occ FROM (
          SELECT freq,
                 unnest(sy[1:len(sy)-1]) AS lsym,
                 unnest(sy[2:len(sy)]) AS rsym
          FROM (SELECT string_split(trim(repr), $d) AS sy, freq
                FROM r${s - 1})
          WHERE len(sy) >= 2)
        GROUP BY lsym, rsym),
      b$s AS (
        SELECT lsym, rsym, n_occ FROM p$s
        ORDER BY n_occ DESC, lsym, rsym LIMIT 1),
      r$s AS MATERIALIZED (
        SELECT word, replace(repr,
                 ' ' || (SELECT lsym FROM b$s) || $d ||
                   (SELECT rsym FROM b$s) || ' ',
                 ' ' || (SELECT lsym FROM b$s) ||
                   (SELECT rsym FROM b$s) || ' ') AS repr, freq
        FROM r${s - 1})"""
    }.mkString(",\n")
    s"""w AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) > 0
      GROUP BY word),
    r0 AS MATERIALIZED (
      SELECT word,
             ' ' || rtrim(regexp_replace(word, '(.)', '\\1' || $d, 'g'))
               || ' ' AS repr, freq
      FROM w),
    $levels"""
  }

  /** Q95: BPE tokenizer APPLICATION — q93's inference twin, closing the
    * train→apply loop: the corpus is re-tokenized under the 8 learned
    * merges and each document reports its word count, character volume,
    * BPE token count, and compression ratio (chars per token — the
    * number a tokenizer team actually tracks). The trained vocabulary
    * (word → final symbol sequence) IS the tokenizer: applying it to a
    * corpus is one keyed join of the exploded word stream against the
    * vocab table plus a per-doc aggregation — every corpus word is in
    * the vocab by construction (it was trained on this corpus; an
    * out-of-corpus stream would left-join with a char-fallback).
    *
    * Scale shape: training as q93 (corpus touched once, iterations on
    * the checkpointed Zipf-bounded vocab); application is ONE hash join
    * on `word` (vocab side ≪ corpus, AQE-broadcastable) and one partial-
    * agg groupBy on doc_id. Compression is exact int÷int → double. */
  private val q95 = {
    val nMerges = 8
    GraftQuery(
      "q95_bpe_tokenize",
      (spark, dir) => {
        val sep = "  "
        val (_, vocab) = bpeTrain(spark, dir, nMerges)
        val vsym = vocab.select(col("word"),
          size(split(trim(col("repr")), sep)).cast("long").as("n_sym"))
        // BROADCAST the vocab: it is Zipf-bounded (Heaps' law keeps word
        // types ≪ tokens at any corpus size), but it arrives from the
        // train loop's checkpoint with unknown size stats, so without the
        // hint Spark plans a sort-merge join — which shuffles AND sorts
        // the full token stream on a Zipf-skewed key (the head word alone
        // is ~1/6 of the stream; one straggler task at every scale).
        // Measured on the Heaps-law 100× corpus: 30→100× wall exponent
        // 1.41 as SMJ → 0.81 broadcast (SCALING.md round 13). For
        // vocabularies past broadcast size (≳10⁸ types), fall back to a
        // keyed join with AQE skew handling — the corpus side still never
        // sorts.
        Tables.documents(spark, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .join(broadcast(vsym), Seq("word"))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_words"),
            sum(length(col("word"))).cast("long").as("n_chars_tok"),
            sum(col("n_sym")).as("n_tokens_bpe"))
          .withColumn("compression",
            col("n_chars_tok").cast("double") / col("n_tokens_bpe"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH ${bpeOracleCtes(nMerges)},
        v AS (
          SELECT word,
                 CAST(len(string_split(trim(repr), (' ' || ' '))) AS BIGINT)
                   AS n_sym
          FROM r$nMerges),
        tw AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents),
        t AS (SELECT doc_id, word FROM tw WHERE length(word) > 0)
        SELECT t.doc_id, count(*) AS n_words,
               CAST(sum(length(t.word)) AS BIGINT) AS n_chars_tok,
               CAST(sum(v.n_sym) AS BIGINT) AS n_tokens_bpe,
               CAST(sum(length(t.word)) AS DOUBLE) / sum(v.n_sym) AS compression
        FROM t JOIN v ON t.word = v.word
        GROUP BY t.doc_id
        ORDER BY t.doc_id"""),
    headline = true)
  }

  /** Q96: collocation mining — the corpus-global PMI ranking (Church &
    * Hanks, CL'90 — public literature) that seeds phrase vocabularies
    * (word2vec-style phrase merging, tokenizer pre-segmentation): rank
    * adjacent word pairs by how much more often they co-occur than
    * independence predicts. The score is the PMI RATIO
    * c(w1,w2)·N / (c(w1)·c(w2)) rather than its logarithm — log is
    * monotone, so the ranking (all any consumer uses) is identical,
    * and the ratio stays in exact IEEE division for cross-engine
    * bit-equality (the q89 rule). A min-count floor of 5 drops the
    * hapax noise PMI is notorious for; ties break lexicographically.
    *
    * Scale shape: one bigram-count groupBy (unbounded keyspace,
    * map-side partial agg), one unigram-count groupBy, two tiny-side
    * joins of the BIGRAM TYPE table (≪ the bigram stream) against the
    * unigram counts, then TakeOrdered top-50 — per-partition heaps,
    * never a global sort. */
  private val q96 = GraftQuery(
    "q96_collocations",
    (spark, dir) => {
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = true)
      val n = uni.agg(sum("c")).collect()(0).getLong(0)
      val big = toks.filter(size(col("toks")) >= 2)
        .select(explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
        .groupBy(col("bg.0").as("w1"), col("bg.1").as("w2"))
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      big
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          (col("c12").cast("double") * n /
            (col("c1").cast("double") * col("c2"))).as("pmi_ratio"))
        .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
        .limit(50)
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      uni AS (
        SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM t)
        GROUP BY w),
      n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
      big AS (
        SELECT w1, w2, count(*) AS c12 FROM (
          SELECT unnest(toks[1:len(toks)-1]) AS w1,
                 unnest(toks[2:len(toks)]) AS w2
          FROM t WHERE len(toks) >= 2)
        GROUP BY w1, w2
        HAVING count(*) >= 5)
      SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
             CAST(c12 AS DOUBLE) * n.n / (CAST(u1.c AS DOUBLE) * u2.c)
               AS pmi_ratio
      FROM big
      JOIN uni u1 ON big.w1 = u1.w
      JOIN uni u2 ON big.w2 = u2.w
      CROSS JOIN n
      ORDER BY pmi_ratio DESC, w1, w2
      LIMIT 50"""),
    headline = true)

  /** Q100: DSIR-style importance GATE — the binary accept/reject
    * companion to q69's importance RANKING (both from Xie et al.,
    * NeurIPS'23, arXiv 2302.03169; `Sampling.scala` q69 ranks the raw
    * pool and keeps a top-k, the resampling use; this query emits a
    * per-document verdict over the ENTIRE raw pool, the filtering use —
    * a pipeline typically gates first, then ranks the survivors).
    * Estimate hashed-bigram feature distributions on a small TARGET
    * corpus (the trusted domain — here source src0) and on the RAW pool,
    * then score every raw document by whether its features look drawn
    * from the target rather than the pool. Where q69 keeps the paper's
    * ratio shape in smoothed floating point, the gate is ALL-INTEGER:
    * margin = Σ_b n_b·(ppm_t(b) − ppm_r(b)) with per-bucket
    * probabilities quantized to parts-per-million by non-negative
    * integer division — a yes/no decision replayed across engines,
    * checkpoints, and Spark versions must not hinge on a ULP (ln isn't
    * even bit-specified across engines). selected=1 iff the document's
    * feature mass sits closer to the target than the pool (margin > 0).
    *
    * Scale shape: ONE corpus pass reduces the bigram stream to the
    * per-(doc, bucket) count table (≤ 256 rows/doc — bounded, ≪ bigram
    * stream; checkpointed because BOTH the model build and the scoring
    * read it). The model is 256 rows — totals fold in via one broadcast
    * crossJoin, and scoring joins model onto doc-buckets broadcast-side.
    * No shuffle anywhere exceeds docs×256 rows; driver state is one
    * 2-value totals row. */
  private val q100 = GraftQuery(
    "q100_dsir_selection",
    (spark, dir) => {
      val docBuckets = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("source"),
          explode(arrays_zip(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
        .select(col("doc_id"), col("source"),
          conv(substring(md5(concat_ws(" ", col("bg.0"), col("bg.1"))), 1, 2),
            16, 10).cast("long").as("bucket"))
        .groupBy("doc_id", "source", "bucket")
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = true)
      val byBucket = docBuckets.groupBy("bucket").agg(
        sum(when(col("source") === "src0", col("n")).otherwise(0L)).as("ct"),
        sum(when(col("source") =!= "src0", col("n")).otherwise(0L)).as("cr"))
      val totals = byBucket.agg(
        sum("ct").as("tt"), sum("cr").as("tr"))
      val model = byBucket.crossJoin(broadcast(totals))
        .select(col("bucket"),
          (expr("(1000000 * ct) div greatest(tt, 1)") -
            expr("(1000000 * cr) div greatest(tr, 1)")).as("w"))
      docBuckets.filter(col("source") =!= "src0")
        .join(broadcast(model), Seq("bucket"))
        .groupBy("doc_id")
        .agg(
          sum(col("n")).as("n_bigrams"),
          sum(col("n") * col("w")).as("margin"))
        .withColumn("selected",
          when(col("margin") > 0, 1).otherwise(0).cast("int"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      big AS (
        SELECT doc_id, source,
               unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2
        FROM t WHERE len(toks) >= 2),
      db AS (
        SELECT doc_id, source,
               CAST((strpos('0123456789abcdef', substring(md5(w1 || ' ' || w2), 1, 1)) - 1) * 16
                  + strpos('0123456789abcdef', substring(md5(w1 || ' ' || w2), 2, 1)) - 1
                 AS BIGINT) AS bucket,
               count(*) AS n
        FROM big GROUP BY doc_id, source, bucket),
      bb AS (
        SELECT bucket,
               CAST(sum(CASE WHEN source = 'src0' THEN n ELSE 0 END) AS BIGINT) AS ct,
               CAST(sum(CASE WHEN source <> 'src0' THEN n ELSE 0 END) AS BIGINT) AS cr
        FROM db GROUP BY bucket),
      tot AS (
        SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr
        FROM bb),
      model AS (
        SELECT bucket,
               (1000000 * ct) // greatest(tt, 1)
                 - (1000000 * cr) // greatest(tr, 1) AS w
        FROM bb CROSS JOIN tot)
      SELECT d.doc_id,
             CAST(sum(d.n) AS BIGINT) AS n_bigrams,
             CAST(sum(d.n * m.w) AS BIGINT) AS margin,
             CAST(CASE WHEN sum(d.n * m.w) > 0 THEN 1 ELSE 0 END AS INTEGER) AS selected
      FROM db d JOIN model m USING (bucket)
      WHERE d.source <> 'src0'
      GROUP BY d.doc_id
      ORDER BY d.doc_id"""),
    headline = true)

  /** Q101: tokenizer FERTILITY audit — the per-language acceptance metric
    * for a trained tokenizer (fertility = subword tokens emitted per
    * word; the standard multilingual-tokenizer comparison statistic —
    * Ács 2019's mBERT analysis popularized it, XLM-R/BLOOM report it):
    * languages whose fertility is high pay more sequence length per word
    * of content, so a corpus team re-balances training data or vocab
    * size on exactly this table. Reuses q93's trained vocabulary and
    * q95's application join, rolled up per language with chars-per-token
    * compression alongside.
    *
    * Scale shape: q95's — training touches the corpus once and iterates
    * on the checkpointed Zipf-bounded vocab; the audit pass is one hash
    * join on `word` (vocab ≪ corpus, AQE-broadcastable) and a partial-agg
    * groupBy on the catalog-bounded language key. Ratios are exact
    * BIGINT÷BIGINT → double (the q89 rule). */
  private val q101 = {
    val nMerges = 8
    GraftQuery(
      "q101_tokenizer_fertility",
      (spark, dir) => {
        val sep = "  "
        val (_, vocab) = bpeTrain(spark, dir, nMerges)
        val vsym = vocab.select(col("word"),
          size(split(trim(col("repr")), sep)).cast("long").as("n_sym"))
        // broadcast: same Zipf-skew rationale as q95 (see its comment)
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .join(broadcast(vsym), Seq("word"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_words"),
            sum(length(col("word"))).cast("long").as("n_chars"),
            sum(col("n_sym")).as("n_tokens_bpe"))
          .withColumn("fertility",
            col("n_tokens_bpe").cast("double") / col("n_words"))
          .withColumn("compression",
            col("n_chars").cast("double") / col("n_tokens_bpe"))
          .orderBy("lang")
      },
      Some(s"""
        WITH ${bpeOracleCtes(nMerges)},
        v AS (
          SELECT word,
                 CAST(len(string_split(trim(repr), (' ' || ' '))) AS BIGINT)
                   AS n_sym
          FROM r$nMerges),
        tw AS (
          SELECT lang, unnest(string_split(text, ' ')) AS word
          FROM documents),
        t AS (SELECT lang, word FROM tw WHERE length(word) > 0)
        SELECT t.lang, count(*) AS n_words,
               CAST(sum(length(t.word)) AS BIGINT) AS n_chars,
               CAST(sum(v.n_sym) AS BIGINT) AS n_tokens_bpe,
               CAST(sum(v.n_sym) AS DOUBLE) / count(*) AS fertility,
               CAST(sum(length(t.word)) AS DOUBLE) / sum(v.n_sym) AS compression
        FROM t JOIN v ON t.word = v.word
        GROUP BY t.lang
        ORDER BY t.lang"""),
    headline = true)
  }

  /** Q121: lexical-diversity audit per source — the corpus-health metrics
    * a curation dashboard tracks alongside q107's profile: type-token
    * ratio (vocabulary richness) and the Simpson repeat index
    * Σ c_w(c_w−1) / (N(N−1)) — the probability two token draws without
    * replacement are the SAME word, i.e. repetitiveness without logs
    * (entropy takes ln, which is not bit-specified across engines; the
    * Simpson index is the standard log-free concentration measure, and a
    * boilerplate-heavy or degenerate source shows up as a spike).
    * Numerators/denominators are exact integer sums; the two final
    * divisions run in IEEE doubles — the denominators as double PRODUCTS
    * (N·(N−1) in double, both engines spelled identically) so per-source
    * token counts past 3·10⁹ don't overflow the integer square at 100 TB.
    *
    * Scale shape: one (source, word) partial-agg groupBy (the unbounded
    * but Heaps-bounded type keyspace), then a per-source rollup —
    * |sources| rows out; nothing else grows. */
  private val q121 = GraftQuery(
    "q121_lexical_diversity",
    (spark, dir) => {
      val counts = Tables.documents(spark, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      // rep_pairs accumulates in DECIMAL(38,0): c·(c−1) alone exceeds
      // Long near c = 3·10⁹ and the SUM is ~N²·simpson — far past BIGINT
      // at the claimed scale. Both engines sum the same exact integers
      // (DuckDB in HUGEINT) and convert the identical value to double
      // once, so parity holds while the overflow is gone.
      counts.groupBy("source")
        .agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("c").cast("decimal(19,0)") *
            (col("c") - 1).cast("decimal(19,0)")).as("rep_pairs"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          (col("n_types").cast("double") / col("n_tokens").cast("double"))
            .as("ttr"),
          (col("rep_pairs").cast("double") /
            (col("n_tokens").cast("double") *
              (col("n_tokens").cast("double") - lit(1.0)))).as("simpson"))
        .orderBy("source")
    },
    Some("""
      WITH t AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      c AS (
        SELECT source, w, count(*) AS c FROM t
        WHERE length(w) > 0 GROUP BY source, w),
      s AS (
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_types,
               sum(CAST(c AS HUGEINT) * (c - 1)) AS rep_pairs
        FROM c GROUP BY source)
      SELECT source, n_tokens, n_types,
             CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
             CAST(rep_pairs AS DOUBLE) /
               (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0))
               AS simpson
      FROM s ORDER BY source"""),
    headline = true)

  /** Q131: quality-classifier TRAINING, distributed — the missing third of
    * the classifier triptych (q86 scores a fixed hashed model, q110 audits
    * one; this TRAINS one): the GPT-3/CCNet quality-filter recipe (Brown
    * et al. 2020 App. A) where positives are a curated reference corpus
    * and negatives the raw crawl, here `src0` vs the rest, over q100's
    * hashed-bigram feature space (md5 → 256 buckets).
    *
    * The model is a BATCH PERCEPTRON run for a fixed [[PerceptronRounds]]
    * rounds in ALL-INTEGER arithmetic — counts, weights, margins — so
    * both engines agree bit-exactly (the q120 MW-rounds discipline; no
    * learning-rate floats, no libm): round r scores every doc with
    * w_{r−1} (w_0 = 0), collects the misclassified set (y=+1 with margin
    * ≤ 0, y=−1 with margin > 0 — the zero margin deliberately counts
    * against positives so round 1 is the class-prior update), and adds
    * Σ y·n_b over misclassified docs to each bucket weight. Output: each
    * doc's final margin, prediction, and label.
    *
    * 100 TB shape: the (doc, bucket, n) table is checkpointed once
    * (bounded at ≤256 rows/doc); each round is two keyed aggregations
    * over it (margins by doc_id, updates by bucket after a hash join
    * against the misclassified doc set) plus a 256-row driver collect —
    * the k-means/q120 pattern: driver state is model-sized, never
    * corpus-sized, and the round count is a constant. The oracle unrolls
    * the identical rounds as CTEs. */
  private val PerceptronRounds = 3

  /** q131's materialized feature table: (doc_id, y = ±1 by source,
    * bucket = md5-bigram → 256, n). Shared by the training loop and the
    * final scoring pass; CACHED (not localCheckpoint-ed) because every
    * round reads it and — round 20, guide §2.4 — InMemoryRelation
    * preserves the hash(doc_id) outputPartitioning the checkpoint drops
    * (a LogicalRDD under AQE reports UnknownPartitioning), so the
    * per-round margin window and the final per-doc aggregation run
    * exchange-free on the cached layout. LIFECYCLE: CacheManager entries
    * are session-pinned until explicitly unpersisted (checkpoint blocks,
    * by contrast, are ContextCleaner-reclaimed once dereferenced), so
    * the CALLER owns the release — q131 unpersists after its eager
    * final-scoring checkpoint; any other trainer releases its db once
    * [[perceptronTrain]] (and its own scoring reads) are done. */
  private[graft] def perceptronDb(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
      .select(col("doc_id"),
        when(col("source") === "src0", 1L).otherwise(-1L).as("y"),
        conv(substring(md5(concat_ws(" ", col("bg.0"), col("bg.1"))), 1, 2),
          16, 10).cast("long").as("bucket"))
      .groupBy("doc_id", "y", "bucket")
      .agg(count(lit(1)).as("n"))
      .cache()

  private def wCol(w: Array[Long]): Column =
    element_at(typedLit(w), (col("bucket") + 1).cast("int"))

  private def marginsWith(db: DataFrame, w: Array[Long]): DataFrame =
    db.groupBy("doc_id", "y")
      .agg(sum(col("n") * wCol(w)).as("margin"))

  /** The q131 training loop over a [[perceptronDb]] frame → the 256
    * bucket weights. Public seam: `streaming.ClassifierStream` trains
    * here once and deploys the weights as a fused stream-scoring
    * expression (train batch, score stream). */
  private[graft] def perceptronTrain(db: DataFrame,
      rounds: Int = PerceptronRounds): Array[Long] = {
    val misCond = (col("y") === 1L && col("margin") <= 0L) ||
      (col("y") === -1L && col("margin") > 0L)
    // Round 20 (guide §2.4/§3): the old round was margins-groupBy →
    // misclassified set → equi-JOIN back onto db → bucket groupBy — a
    // join rendezvous and two doc_id-keyed aggregations per round. A
    // whole-partition window over doc_id attaches each doc's margin to
    // its own feature rows in place (integer sum — order-independent, so
    // bit-identical margins), the mis filter runs per row, and only the
    // ≤256-row bucket aggregation shuffles. On the cached hash(doc_id)
    // layout the window is exchange-free; per round: one partial-agg'd
    // 256-key exchange instead of three plus a join.
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    var w = Array.fill(256)(0L)
    for (_ <- 1 to rounds) {
      val upd = db
        .withColumn("margin", sum(col("n") * wCol(w)).over(wDoc))
        .filter(misCond)
        .groupBy("bucket").agg(sum(col("y") * col("n")).as("u"))
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      w = w.zipWithIndex.map { case (v, b) => v + upd.getOrElse(b, 0L) }
    }
    w
  }

  private val q131 = GraftQuery(
    "q131_classifier_train",
    (spark, dir) => {
      val db = perceptronDb(spark, Tables.documents(spark, dir))
      val w = perceptronTrain(db)
      // The final scoring pass materializes EAGERLY while the cached
      // feature table is still alive, then the cache unpersists
      // deterministically (round-21 ADVICE fix: CacheManager entries are
      // session-pinned until explicitly released — unlike checkpoint RDD
      // blocks, which the ContextCleaner reclaims — so returning a lazy
      // frame over the cache left the full feature table pinned in
      // executor storage after every q131 run). The checkpointed result
      // is one row per document (model-output-sized, not feature-sized)
      // and its blocks are ContextCleaner-reclaimed once dereferenced.
      val res = marginsWith(db, w)
        .select(col("doc_id"), col("y").as("label"), col("margin"),
          when(col("margin") > 0, 1L).otherwise(-1L).as("predicted"))
        .localCheckpoint(true)
      db.unpersist()
      res.orderBy("doc_id")
    },
    Some {
      val db = """
        t AS (
          SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        big AS (
          SELECT doc_id, source,
                 unnest(toks[1:len(toks)-1]) AS w1,
                 unnest(toks[2:len(toks)]) AS w2
          FROM t WHERE len(toks) >= 2),
        db AS (
          SELECT doc_id,
                 CASE WHEN source = 'src0' THEN 1 ELSE -1 END AS y,
                 CAST((strpos('0123456789abcdef', substring(md5(w1 || ' ' || w2), 1, 1)) - 1) * 16
                    + strpos('0123456789abcdef', substring(md5(w1 || ' ' || w2), 2, 1)) - 1
                   AS BIGINT) AS bucket,
                 count(*) AS n
          FROM big GROUP BY doc_id, y, bucket),
        bk AS (SELECT DISTINCT bucket FROM db),
        w0 AS (SELECT bucket, CAST(0 AS BIGINT) AS w FROM bk)"""
      val rounds = (1 to PerceptronRounds).map { r =>
        s"""
        m$r AS (
          SELECT d.doc_id, max(d.y) AS y,
                 CAST(sum(d.n * w.w) AS BIGINT) AS margin
          FROM db d JOIN w${r - 1} w USING (bucket)
          GROUP BY d.doc_id),
        mis$r AS (
          SELECT doc_id FROM m$r
          WHERE (y = 1 AND margin <= 0) OR (y = -1 AND margin > 0)),
        u$r AS (
          SELECT d.bucket, CAST(sum(d.y * d.n) AS BIGINT) AS u
          FROM db d JOIN mis$r USING (doc_id)
          GROUP BY d.bucket),
        w$r AS (
          SELECT w.bucket, w.w + coalesce(u.u, 0) AS w
          FROM w${r - 1} w LEFT JOIN u$r u USING (bucket))"""
      }.mkString(",")
      s"""
      WITH $db, $rounds
      SELECT d.doc_id, max(d.y) AS label,
             CAST(sum(d.n * w.w) AS BIGINT) AS margin,
             CAST(CASE WHEN sum(d.n * w.w) > 0 THEN 1 ELSE -1 END AS BIGINT)
               AS predicted
      FROM db d JOIN w$PerceptronRounds w USING (bucket)
      GROUP BY d.doc_id
      ORDER BY d.doc_id"""
    },
    headline = true)

  val all: Seq[GraftQuery] =
    Seq(q20, q21, q22, q23, q24, q25, q26, q39, q54, q55, q86, q87, q89,
      q93, q95, q96, q100, q101, q121, q131)
}
