package graft.queries

import graft.GraftQuery
import graft.multimodal.BinaryOps
import graft.plans.GraftExtensions.kernel
import org.apache.spark.sql.functions._

/** Multimodal operators through the driver contract. q50's scalar columns
  * (byte length, payload md5, frame count) are oracle-checkable because the
  * synthetic payload is the document's UTF-8 bytes; the histogram/thumbnail
  * features are stub-decoder outputs pinned by BinaryOpsSpec (rows-only
  * here). */
object Multimodal {

  /** Q50: binary payload scalar features — oracle-backed. */
  private val q50 = GraftQuery(
    "q50_media_bytes",
    (spark, dir) => {
      val media = BinaryOps.synthesize(spark, dir)
      media.toDF
        .select(
          col("media_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          (length(col("payload")).cast("long") / 256).cast("int").as("n_frames"),
          col("format"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             strlen(text) AS n_bytes,
             md5(text) AS payload_md5,
             CAST(strlen(text) // 256 AS INTEGER) AS n_frames,
             CASE doc_id % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'audio' ELSE 'video' END AS format
      FROM documents
      ORDER BY media_id"""))

  /** Q51: batched stub-decode features aggregated per format — the
    * mapPartitions pipeline exercised end-to-end. The stub codec is
    * deterministic integer math over the payload bytes, so the oracle
    * mirrors it in SQL (the q65-style md5-replay idea, arithmetic
    * flavor): n_frames = bytes div 256, thumbnail length = ⌈bytes/4⌉,
    * and histogram bucket 6 (high nibble 0x6) counts exactly the ASCII
    * characters `` ` ``–`o` — UTF-8 multibyte sequences only use bytes
    * ≥ 0x80, so a regex over characters reproduces the byte-level count. */
  private val q51 = GraftQuery(
    "q51_media_features",
    (spark, dir) => {
      val feats = BinaryOps.extractFeatures(BinaryOps.synthesize(spark, dir))
      val media = BinaryOps.synthesize(spark, dir).toDF.select("media_id", "format")
      feats.toDF.join(media, "media_id")
        .groupBy("format")
        .agg(
          count(lit(1)).as("n_media"),
          sum(col("n_bytes")).as("total_bytes"),
          sum(col("n_frames")).as("total_frames"),
          sum(col("thumb_bytes")).as("total_thumb_bytes"),
          sum(element_at(col("histogram"), 7)).as("bucket6_total"))
        .orderBy("format")
    },
    Some("""
      SELECT CASE doc_id % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
             count(*) AS n_media,
             CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
             CAST(sum(strlen(text) // 256) AS BIGINT) AS total_frames,
             CAST(sum((strlen(text) + 3) // 4) AS BIGINT) AS total_thumb_bytes,
             CAST(sum(length(regexp_replace(text, '[^`a-o]', '', 'g'))) AS BIGINT) AS bucket6_total
      FROM documents
      GROUP BY 1
      ORDER BY format"""))

  /** Q88: content-addressed chunk dedup over binary payloads — the
    * fixed-size-block dedup pattern of CAS/backup systems applied to a
    * media corpus: slice every payload into 64-byte blocks, hash each,
    * count content copies across the corpus. At 100 TB this is how
    * shared media (re-encoded thumbnails, repeated intro frames,
    * re-uploaded assets) is found without ever comparing payloads
    * pairwise: one corpus-linear flatMap (q83's chunking shape, binary
    * flavor) and ONE keyed shuffle on the chunk hash, whose md5 keyspace
    * is unbounded so occupancy tracks true duplication at any scale.
    * Block size is a parameter — 64 B here for testdata granularity, MBs
    * for real video.
    *
    * Oracle-expressible because the synthetic payload is the document's
    * UTF-8 bytes and the corpus is ASCII (strlen == length verified), so
    * DuckDB's char-substring md5 equals Spark's byte-substring md5. */
  private val q88 = GraftQuery(
    "q88_media_chunk_dedup",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val media = BinaryOps.synthesize(spark, dir).toDF
        .filter(length(col("payload")) > 0)
        .select(col("media_id"), col("payload"))
      val chunks = media
        .withColumn("chunk_idx",
          explode(expr("sequence(0, CAST((length(payload) + 63) div 64 AS INT) - 1)")))
        .select(col("media_id"), col("chunk_idx"),
          md5(expr("substring(payload, chunk_idx * 64 + 1, 64)")).as("chunk_md5"))
      chunks
        .withColumn("n_copies",
          count(lit(1)).over(Window.partitionBy("chunk_md5")).cast("long"))
        .orderBy("media_id", "chunk_idx")
    },
    Some("""
      WITH m AS (
        SELECT doc_id AS media_id, text FROM documents WHERE strlen(text) > 0),
      c AS (
        SELECT media_id,
               CAST(unnest(generate_series(0,
                 CAST((strlen(text) + 63) // 64 AS INTEGER) - 1)) AS INTEGER) AS chunk_idx,
               text
        FROM m),
      h AS (
        SELECT media_id, chunk_idx,
               md5(substring(text, chunk_idx * 64 + 1, 64)) AS chunk_md5
        FROM c)
      SELECT media_id, chunk_idx, chunk_md5,
             CAST(count(*) OVER (PARTITION BY chunk_md5) AS BIGINT) AS n_copies
      FROM h
      ORDER BY media_id, chunk_idx"""),
    headline = true)

  /** Q92: perceptual-hash near-duplicate media pairs — the asset-level
    * companion to q88's chunk-level dedup: q88 finds SHARED BLOCKS across
    * the corpus; q92 finds WHOLE ASSETS whose content is almost the same
    * (re-uploads with touched metadata, re-encodes sharing most frames).
    * The real-world operator hashes decoded pixels/frames (pHash/aHash —
    * DCT or mean-threshold bits over the decoded image); decoding is
    * stubbed here (no codecs in this environment, same boundary as
    * q50/q51), and the perceptual signature is built from the payload's
    * 64-byte content blocks instead: a 64-bit SimHash (Charikar, STOC'02)
    * over block md5s — payloads sharing most content blocks agree on most
    * majority-vote bits, which is exactly the locality property the
    * decoded-domain pHash provides. Swapping the feature extractor
    * (blocks → decoded-frame features) changes ONE select; the Spark-side
    * shape — signature, banding, verify — is the production pipeline.
    *
    * Candidate blocking is q31's pigeonhole-complete scheme with a WIDER
    * signature: pairs within Hamming ≤ 3 must agree on ≥1 of the 4
    * blocks, so the self-join is keyed on (block index, block bits) —
    * never all-pairs — then the exact Hamming verify filters. The
    * fingerprint is 128 bits / 4×32-bit blocks, NOT q31's 64/4×16: media
    * fingerprints of UNRELATED assets are near-uniform random (content
    * blocks share nothing, unlike word shingles drawn from a common
    * vocabulary), so candidate volume is the birthday term 4·n²/2^bits —
    * measured at 4×16 bits as a 1.68 tail exponent from 150 k → 500 k
    * payloads (SCALING.md round 12: the q31 round-9 fixed-keyspace
    * lesson arriving two decades earlier). A 2³²-key space per block
    * index pushes the quadratic term past 10⁹ assets; the verify radius
    * stays 3. One narrow fingerprint map (four md5s per block, one fold
    * per 32-bit quarter), one keyed shuffle, one distinct. Fingerprints
    * are 128-char bit-strings of md5-derived votes, so the DuckDB oracle
    * rebuilds them bit-identically. */
  private val q92 = GraftQuery(
    "q92_media_phash_neardup",
    (spark, dir) => {
      import graft.queries.Dedup.{hammingBits, simhashFp32}
      val fps = BinaryOps.synthesize(spark, dir).toDF
        .filter(length(col("payload")) > 0)
        .select(col("media_id"), col("payload"))
        .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
        .withColumn("hs", expr(
          "transform(sequence(0, CAST((length(payload) + 63) div 64 AS INT) - 1), " +
            "i -> md5(substring(payload, i * 64 + 1, 64)))"))
        .select(col("media_id"),
          concat(simhashFp32(col("hs")),
            simhashFp32(expr("transform(hs, h -> md5(concat('b:', h)))")),
            simhashFp32(expr("transform(hs, h -> md5(concat('c:', h)))")),
            simhashFp32(expr("transform(hs, h -> md5(concat('d:', h)))")))
            .as("fp"))
      // the fingerprint table is consumed twice (block index + verify
      // fetch); materialized so the payload hashing runs once — the q32
      // `g` pattern
      val fpm = fps.localCheckpoint(eager = true)
      val keyed = fpm.select(col("media_id"),
        explode(array((0 until 4).map(i => struct(
          lit(i).as("blk"),
          substring(col("fp"), i * 32 + 1, 32).as("bits"))): _*)).as("k"))
      // candidate distinct on the ID PAIR ONLY: a close pair can collide
      // in several blocks, and those collisions land in DIFFERENT
      // partitions (the block join is keyed by block), so every duplicate
      // wide row would travel the distinct exchange — carrying both
      // 128-char fingerprints quadrupled the shuffled bytes per
      // candidate. The fingerprints are re-fetched for the distinct
      // survivors from the checkpointed table (candidates ≪ corpus, so
      // both fetch joins broadcast the pair side; the corpus side stays
      // scan-local) — the survivor-pruned verify fetch of
      // jaccardVerifyStages.
      keyed.as("a").join(keyed.as("b"),
          col("a.k") === col("b.k") && col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"))
        .distinct()
        .join(fpm.as("fa"), col("fa.media_id") === col("media_a"))
        .join(fpm.as("fb"), col("fb.media_id") === col("media_b"))
        .select(col("media_a"), col("media_b"),
          hammingBits(col("fa.fp"), col("fb.fp"), 128).cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy("media_a", "media_b")
    },
    Some {
      // n-ary concat(), not a `||` chain: 128 chained binary concats
      // exceed DuckDB's binder recursion limit (max 128)
      def bitExprs(hcol: String) = (0 until 32).map(j =>
        s"""CASE WHEN list_sum(list_transform($hcol,
              h -> CASE WHEN substring(h, ${j + 1}, 1) >= '8' THEN 1 ELSE -1 END)) > 0
            THEN '1' ELSE '0' END""").mkString("concat(", ", ", ")")
      s"""
      WITH m AS (
        SELECT doc_id AS media_id, text FROM documents WHERE strlen(text) > 0),
      c AS (
        SELECT media_id,
               list_transform(generate_series(0,
                   CAST((strlen(text) + 63) // 64 AS INTEGER) - 1),
                 i -> md5(substring(text, i * 64 + 1, 64))) AS hs
        FROM m),
      t AS (
        SELECT media_id, hs,
               list_transform(hs, h -> md5('b:' || h)) AS hs2,
               list_transform(hs, h -> md5('c:' || h)) AS hs3,
               list_transform(hs, h -> md5('d:' || h)) AS hs4
        FROM c),
      f AS (SELECT media_id, concat(${bitExprs("hs")}, ${bitExprs("hs2")},
                     ${bitExprs("hs3")}, ${bitExprs("hs4")}) AS fp FROM t),
      k AS (SELECT media_id, fp, i AS blk, substring(fp, i * 32 + 1, 32) AS bits
            FROM f, generate_series(0, 3) g(i)),
      cand AS (
        SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
               a.fp AS fpa, b.fp AS fpb
        FROM k a JOIN k b
          ON a.blk = b.blk AND a.bits = b.bits AND a.media_id < b.media_id),
      ham AS (
        SELECT media_a, media_b,
               CAST(len(list_filter(generate_series(1, 128),
                 i -> substring(fpa, i, 1) <> substring(fpb, i, 1))) AS BIGINT)
                 AS hamming
        FROM cand)
      SELECT media_a, media_b, hamming FROM ham
      WHERE hamming <= 3
      ORDER BY media_a, media_b"""
    },
    headline = true)

  /** Q94: content-defined chunking (CDC) dedup — the shift-robust
    * completion of the media-dedup triple: q88's fixed 64-byte blocks
    * find shared content only when it is block-ALIGNED (one inserted
    * byte shifts every later boundary), which is exactly the weakness
    * CDC was invented for (Muthitacharoen et al., SOSP'01 LBFS; Xia et
    * al., ATC'16 FastCDC): a position is a chunk boundary iff the
    * rolling hash of the 16-byte window ending there ≡ 0 (mod 64) —
    * boundaries are functions of CONTENT, so an insertion resynchronizes
    * within one window and every later chunk is byte-identical again.
    * Expected chunk size = the divisor (64 B here for testdata
    * granularity; production uses KB–MB divisors plus min/max chunk
    * clamps — both are parameter changes, not shape changes).
    *
    * The rolling pass reuses the winnowing family's compiled
    * `window_hashes` expression (one codegen'd pass per payload, the
    * q27 kernel); chunking is then pure integer array math, and the
    * dedup is q88's ONE keyed shuffle on the chunk hash — an unbounded
    * md5 keyspace, occupancy = true duplication. The corpus is ASCII so
    * the char stream IS the byte stream (the same equivalence q88's
    * oracle relies on); a binary build swaps the expression's input,
    * not the pipeline. */
  private val q94 = GraftQuery(
    "q94_cdc_chunk_dedup",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.Tables.documents(spark, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id").as("media_id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
        .withColumn("hs", kernel("window_hashes", col("text"), lit(16)))
        .withColumn("cuts", expr(
          """array_distinct(concat(
               array(0),
               transform(filter(sequence(1, size(hs)),
                 i -> element_at(hs, i) % 64 = 0), s -> s + 15),
               array(length(text))))"""))
        .select(col("media_id"), posexplode(expr(
          """transform(sequence(1, size(cuts) - 1),
               i -> struct(element_at(cuts, i) AS a,
                           element_at(cuts, i + 1) AS b))""")), col("text"))
        .select(col("media_id"),
          col("pos").cast("long").as("chunk_idx"),
          (col("col.b") - col("col.a")).cast("long").as("chunk_len"),
          md5(expr("substring(text, col.a + 1, col.b - col.a)")).as("chunk_md5"))
        .withColumn("n_copies",
          count(lit(1)).over(Window.partitionBy("chunk_md5")).cast("long"))
        .orderBy("media_id", "chunk_idx")
    },
    Some("""
      WITH m AS (
        SELECT doc_id AS media_id, text FROM documents WHERE length(text) > 0),
      h AS (
        SELECT media_id, text,
               list_transform(generate_series(1, length(text) - 16 + 1),
                 i -> list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                          list_transform(generate_series(1, 16),
                            j -> CAST(ascii(substring(text, i + j - 1, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
        FROM m),
      c AS (
        SELECT media_id, text,
               list_sort(list_distinct(
                 [CAST(0 AS BIGINT)]
                 || list_transform(list_filter(generate_series(1, len(hs)),
                      i -> hs[i] % 64 = 0), s -> CAST(s + 15 AS BIGINT))
                 || [CAST(length(text) AS BIGINT)])) AS cuts
        FROM h),
      k AS (
        SELECT media_id, i - 1 AS chunk_idx,
               cuts[i+1] - cuts[i] AS chunk_len,
               md5(substring(text, CAST(cuts[i] + 1 AS INTEGER),
                   CAST(cuts[i+1] - cuts[i] AS INTEGER))) AS chunk_md5
        FROM c, unnest(generate_series(1, len(cuts) - 1)) u(i))
      SELECT media_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             CAST(chunk_len AS BIGINT) AS chunk_len, chunk_md5,
             CAST(count(*) OVER (PARTITION BY chunk_md5) AS BIGINT) AS n_copies
      FROM k
      ORDER BY media_id, chunk_idx"""),
    headline = true)

  /** Q106: stride FRAME SAMPLING — the video-side preprocessing step a
    * vision-language data pipeline runs before feature extraction: decode
    * is far too expensive to run on every frame, so assets are sampled at
    * a fixed stride (every 4th frame here — the uniform-stride baseline
    * of the published video-LM data recipes) and only sampled frames
    * proceed to the (stubbed — no codecs in this container, q50's
    * documented boundary) decode/feature stage. Frames are the synthetic
    * 256-byte blocks of `FakeCodec.frameCount`, so the sampled frame's
    * content hash is oracle-checkable as a byte-slice md5; a production
    * build swaps the slicing for real container parsing without touching
    * the plan shape.
    *
    * Scale shape: pure per-asset flatMap (q83's chunking shape on the
    * binary column) — corpus-linear, zero shuffles before the
    * presentation sort; frame explosion is bounded by payload size ÷
    * (256·stride). The payload is sliced INSIDE the explode expression,
    * so sampled-out frames are never materialized as rows. */
  private val q106 = GraftQuery(
    "q106_frame_sample",
    (spark, dir) => {
      val stride = 4
      BinaryOps.synthesize(spark, dir).toDF
        .filter(col("format") === "video")
        .select(col("media_id"), col("payload"),
          (length(col("payload")) / 256).cast("int").as("n_frames"))
        .filter(col("n_frames") > 0)
        .select(col("media_id"), col("n_frames").cast("long").as("n_frames"),
          explode(expr(
            s"transform(filter(sequence(0, n_frames - 1), i -> i % $stride = 0), " +
              "i -> named_struct(" +
              "'frame_idx', CAST(i AS BIGINT), " +
              "'frame_md5', md5(substring(payload, i*256+1, 256))))")).as("f"))
        .select(col("media_id"), col("n_frames"),
          col("f.frame_idx"), col("f.frame_md5"))
        .orderBy("media_id", "frame_idx")
    },
    Some("""
      WITH v AS (
        SELECT doc_id AS media_id, text,
               CAST(strlen(text) // 256 AS BIGINT) AS n_frames
        FROM documents WHERE doc_id % 3 = 2),
      f AS (
        SELECT media_id, n_frames, CAST(i AS BIGINT) AS frame_idx,
               md5(substring(text, CAST(i*256+1 AS INTEGER), 256)) AS frame_md5
        FROM v, unnest(generate_series(0, n_frames - 1)) u(i)
        WHERE n_frames > 0 AND i % 4 = 0)
      SELECT media_id, n_frames, frame_idx, frame_md5
      FROM f ORDER BY media_id, frame_idx"""),
    headline = true)

  val all: Seq[GraftQuery] = Seq(q50, q51, q88, q92, q94, q106)
}
