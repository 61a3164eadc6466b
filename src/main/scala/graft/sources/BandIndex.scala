package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType,
  StructField, StructType}

import graft.plans.GraftExtensions.kernel
import graft.queries.Dedup

/** PERSISTED MinHash BAND index — the FOURTH persisted family, closing
  * the build-once/probe-many symmetry for the engine's highest-volume
  * production operator: near-duplicate detection. The recompute path
  * (q138 / the q30 family) re-derives shingle → minhash → band for the
  * WHOLE corpus on every run; a production crawl pipeline computes band
  * rows once at ingest and probes every new batch (or every fixed
  * benchmark, the decontam shape) against the accumulated store. This
  * is the near-dup sibling of the EXACT-dedup sealed store
  * (Curation.ingestEpochStored's bag-of-words fingerprints): the sealed
  * store rejects content-identical re-crawls, this store finds the
  * lightly-edited ones.
  *
  * Layout choices, stated: (a) rows are (sig, band, doc_id) BUCKETED BY
  * `sig` — the probe predicate is a single-key `isin` over the query
  * side's band signatures (4 md5 strings per query doc — query-bounded
  * by the same contract as AnnIndex's anchor signatures), so bucket
  * pruning skips every bucket holding no probed signature; `band`
  * rides along because the correctness rendezvous is (band, sig) — the
  * pruning predicate is the IO filter, the join is the semantics (the
  * AnnIndex (tbl, sig) rule verbatim). (b) The store holds NO text and
  * NO shingles: band rows are ~3 md5-strings-per-doc metadata, so the
  * index stays a small fraction of the corpus; the exact-Jaccard
  * verify re-shingles ONLY candidate docs by joining back to the
  * document store (candidate-bounded work — the store is the
  * rendezvous, the corpus remains the source of truth for content).
  * (c) The banding parameters (3-word shingles, 12 hashes, 4 bands × 3)
  * are the physical identity of the store — rows banded differently
  * would silently never collide, the AnnIndex recall-loss-with-no-error
  * hazard — so they are RECORDED as table properties at build and
  * require()d on every append.
  *
  * Parity: candidates are the identical (band, sig) collisions the
  * recompute path derives, verified by the same
  * [[Dedup.crossVerify]] arithmetic — so [[nearDupsFor]] output is
  * row-identical to [[Dedup.nearDupXPairsOn]] at the same corpus
  * (BandIndexSpec), and q139 runs it against q138's own DuckDB oracle
  * (the q134/q135/q137 trick on the fourth family). */
object BandIndex {

  private val ShingleProp = "graft.minhash.shingle"
  private val HashesProp = "graft.minhash.hashes"
  private val BandsProp = "graft.minhash.bands"

  /** The engine's one MinHash banding (Dedup.shingleOn /
    * Dedup.minhashSigsOf / Dedup.bandRowsOf): 3-word shingles, 12
    * hashes, 4 bands of 3. Recorded per table so a future banding
    * change cannot silently append incomparable rows. */
  private val Banding = (3, 12, 4)

  /** The band family: rows keyed by doc_id, bucketed by `sig`, identity
    * = the recorded banding. No derived state. */
  private[sources] val Family = StoreFamily("BandIndex", "doc_id", "sig",
    Seq(ShingleProp, HashesProp, BandsProp), "documents", _ => "band")

  /** Compute band rows for the corpus docs of `dir` (restricted to
    * `corpusPred`) and persist them bucketed by `sig`. One
    * shingle+minhash pass over the corpus — the one-time cost every
    * later probe amortizes. */
  def build(spark: SparkSession, dir: String, table: String,
      corpusPred: Column = lit(true), buckets: Int = 16): Unit =
    buildDocs(spark, table,
      graft.Tables.documents(spark, dir).filter(corpusPred), buckets)

  /** [[build]] over a (doc_id, text, …) FRAME — the form a pipeline
    * stage uses when its corpus is not a dir slice (q149's composite
    * bands the ingest gate's ADMITTED output, which is an anti-join
    * result, not a predicate). Same banding recording, same layout. */
  def buildDocs(spark: SparkSession, table: String, docs: DataFrame,
      buckets: Int = 16): Unit = {
    Bucketing.writeBucketed(bandRows(docs.select("doc_id", "text")),
      table, "sig", buckets)
    Bucketing.setProps(spark, table, Family.identityOf(Banding))
  }

  /** The banding the store was built (or last rebanded) at — PUBLIC for
    * the AnnIndex.recordedBanding reason: after a [[reband]], probes and
    * appends must band their side at the CATALOG's truth, never the
    * engine default, or their rows silently stop colliding with the
    * store's. */
  def recordedBanding(spark: SparkSession, table: String): (Int, Int, Int) =
    bandingOf(StoreFamily.recorded(Family, spark, table))

  /** Incremental maintenance — the ingest path: band a NEW batch of
    * documents AT THE STORE'S RECORDED BANDING and append bucket-aligned
    * ([[Bucketing.insertAligned]]).
    * Caller contract: new doc_ids disjoint from the indexed set (the
    * ingest gate runs upstream); single-writer like every append path. */
  def appendDocs(table: String, docs: DataFrame): Unit = {
    val spark = docs.sparkSession
    val b = recordedBanding(spark, table)
    appendBandRowsAt(table,
      Dedup.bandRowsOn(spark, docs.select("doc_id", "text"), b), b)
  }

  /** [[appendDocs]] over PRE-COMPUTED band rows (any column order
    * containing sig/band/doc_id) — the streaming sink's form: the
    * near-dup gate already banded its batch for the probe, so the
    * append reuses those rows instead of paying a second
    * shingle+minhash pass (the PostingsIndex checkpoint-once rule).
    * `rowsBanding` states what the rows were computed at, CHECKED
    * against the recorded properties — a mismatch means rows that never
    * collide, a silent recall loss, so it fails here instead. Row
    * provenance is the caller's ([[Dedup.bandRowsOn]] at that banding),
    * like every append path's disjoint-ids rule. */
  private[graft] def appendBandRowsAt(table: String, rows: DataFrame,
      rowsBanding: (Int, Int, Int)): Unit = {
    val spark = rows.sparkSession
    val built = recordedBanding(spark, table)
    require(built == rowsBanding,
      s"$table is recorded at banding $built but these rows were banded " +
        s"at $rowsBanding — mismatched band rows never collide (after a " +
        "reband, band the batch at recordedBanding)")
    Bucketing.insertAligned(spark, table, rows.select("sig", "band", "doc_id"))
  }

  /** RE-BAND maintenance — [[AnnIndex.reband]]'s rule applied to the
    * MinHash family when [[graft.queries.Similarity.adaptiveBanding]]'s
    * transition (or a deployment's own recall target) moves this
    * family's parameters too. One asymmetry, stated: the band store
    * holds NO text (its ~4-md5-rows-per-doc size is the design), so
    * re-signing needs the SOURCE CORPUS back — `docs` is the same
    * (doc_id, text) population the store was built/grown from, re-read
    * once per banding change (the rebuildSq trade on the dedup family).
    * Only docs the STORE holds re-sign (membership is the store's
    * truth: deleted docs stay deleted); docs shorter than the NEW
    * shingle width drop out, exactly as a fresh build at the new
    * banding would drop them — RebandSpec pins reband == fresh build
    * bit-for-bit. Rows and the recorded banding properties swap
    * atomically in one [[StoreFamily.rewrite]]; probes must sign at
    * [[recordedBanding]] after. */
  def reband(spark: SparkSession, table: String, docs: DataFrame,
      shingle: Int, hashes: Int, bands: Int): Unit = {
    StoreFamily.open(Family, spark, table)
    require(hashes % bands == 0,
      s"hashes ($hashes) must divide evenly into bands ($bands)")
    // docs PRESENT but shorter than the NEW shingle width drop, which is
    // correct (a fresh build at the new banding drops them identically)
    val member = StoreFamily.liveMembers(Family, spark, table,
      docs.select("doc_id", "text"))
    StoreFamily.rewrite(spark, table,
      props = Family.identityOf((shingle, hashes, bands)))(_ =>
      Dedup.bandRowsOn(spark, member, (shingle, hashes, bands)))
  }

  /** RECONCILE the store's live set to exactly `keepDocs` — the
    * recurring-crawl verb the curation composite runs per crawl: the
    * persisted store carries every crawl's banding work forward, and
    * each new run only pays for the DELTA against the current survivor
    * population. Three tiers, cheapest verb per case:
    *   - new docs (in keep, not in store): [[appendDocs]] — O(batch),
    *     banded once at the recorded banding; this is why the store
    *     exists (a doc bands ONCE ever, not once per crawl);
    *   - dropped docs (live in store, not in keep): [[deleteDeferred]]
    *     — O(condemned), folded physically on the maintenance cadence;
    *   - REVIVALS (in keep but tombstoned — a doc a previous crawl's
    *     calibration dropped re-qualifies under the new population):
    *     [[reindex]] of the whole arriving delta — the one full rewrite
    *     case, because an append would land rows the pending tombstone
    *     still hides; rare by construction (requires a former drop to
    *     re-qualify), and the rewrite folds all pending tombstones as
    *     a bonus.
    * A reconcile against an unchanged population is a no-op (two
    * anti-join existence checks, no writes) — re-running the composite
    * over the same corpus costs the SWEEP alone. Single-writer like
    * every maintenance path. */
  def reconcile(spark: SparkSession, table: String,
      keepDocs: DataFrame): Unit = {
    StoreFamily.open(Family, spark, table)
    // LAZY checkpoints (round 21, guide §1.2 step 1): the common
    // reconcile is the RECURRING-run no-op (unchanged corpus — the q149
    // deployment's every pass after the first), and each eager barrier
    // here launched a job whose snapshot the no-op path never needed
    // twice. Lazy keeps the same stable-snapshot semantics — the first
    // full pass through each frame (keepIds' distinct for `keep`, the
    // toDrop existence check for `live`) persists it, and every later
    // consumer reads the pinned copy — without the dedicated barrier
    // jobs. keepIds ITSELF stays eager: it is read by both anti-joins
    // and is the id-only frame whose materialization also pins `keep`.
    val keep = keepDocs.select(col("doc_id").cast("long").as("doc_id"),
      col("text")).localCheckpoint(eager = false)
    val keepIds = keep.select("doc_id").distinct().localCheckpoint(true)
    val live = Bucketing.liveRows(spark, table, "doc_id")
      .select("doc_id").distinct().localCheckpoint(eager = false)
    val toDrop = live.join(keepIds, Seq("doc_id"), "left_anti")
    if (!toDrop.isEmpty) deleteDeferred(spark, table, toDrop)
    val toAdd = keepIds.join(live, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false)
    if (!toAdd.isEmpty) {
      val tombstoned = Bucketing.pendingTombstones(spark, table)
        .map(t => toAdd.join(t, Seq("doc_id"), "left_semi"))
      val hasRevivals = tombstoned.exists(r => !r.isEmpty)
      val arriving = keep.join(toAdd, Seq("doc_id"), "left_semi")
      if (hasRevivals) reindex(spark, table, arriving)
      else appendDocs(table, arriving)
    }
  }

  /** Band-collision ids of `bandRows` against the indexed store — the
    * STREAMING GATE primitive: which of the batch's docs share at least
    * one (band, sig) with any indexed doc. NO exact verify here: the
    * store holds no text, and an LSH-positive at the 4×3 banding IS the
    * gate signal (collision probability 1-(1-J³)⁴ — ~86% at J=0.8,
    * near-1 for the re-crawl/boilerplate rewrites the gate exists for);
    * deployments needing exact-Jaccard confirmation keep a document
    * store and run [[nearDupsFor]], which verifies candidate-bounded.
    * `bandRows` is batch-bounded by the foreachBatch contract
    * ([[candidatesFor]] collects it). */
  private[graft] def collidingIds(spark: SparkSession, table: String,
      bandRows: DataFrame): DataFrame = {
    StoreFamily.open(Family, spark, table)
    candidatesFor(spark, table, bandRows).select(col("bench_id").as("doc_id"))
      .distinct()
  }

  /** [[appendDocs]] over the documents of `dir` restricted to `pred` —
    * the dir-based epoch-append convenience. */
  def append(spark: SparkSession, dir: String, table: String,
      pred: Column = lit(true)): Unit =
    appendDocs(table, graft.Tables.documents(spark, dir).filter(pred))

  /** Verified near-dup pairs for `queryDocs` = (doc_id, text) against
    * the indexed collection, banded and verified at the STORE'S recorded
    * banding (after a reband the engine default would produce signatures
    * that never collide; the recordedBanding rule). The query side is
    * query-scale by contract: it shingles, signs and bands in ONE collect
    * (a projection over a client's literal rows runs no job; the same
    * compiled kernels as the recompute path), and the probe then runs
    * two plans:
    *   - the candidate collect ([[candidatesFor]]): the store scan,
    *     bucket-pruned by the band signatures, executes exactly once.
    *     Candidate pairs are query-bounded — each bench item collides
    *     with its true near-dups plus banding noise, measured 47 pairs at
    *     the 300× probe leg;
    *   - the verify: the candidate corpus docs — pushed into the corpus
    *     scan as an id literal up to [[Bucketing.PruneLiteralLimit]] of
    *     them (the pre-collect spelling's un-pruned corpus read was 6.0
    *     of the probe's 6.5 s at 300×; SCALING.md round 18) — re-shingle
    *     and meet their query docs' shingles
    *     through a literal `candidate doc → (bench_id, shingles)`
    *     fan-out; [[Dedup.verifiedPairs]] applies the recompute path's
    *     exact Jaccard and threshold.
    * Identical candidate set, identical arithmetic, so q139's hash
    * against q138's oracle holds by construction. Self-matches cannot
    * arise: the store holds only docs the build/append predicates
    * admitted, disjoint from the query slice by the caller's split. */
  def nearDupsFor(spark: SparkSession, table: String,
      corpusDocs: DataFrame, queryDocs: DataFrame): DataFrame = {
    import spark.implicits._
    val banding @ (shingle, hashes, bands) =
      bandingOf(StoreFamily.open(Family, spark, table))
    val shq = Dedup.shinglesOf(queryDocs.select(col("doc_id"), col("text")),
        shingle)
      .withColumn("sigs", kernel("minhash_sigs", col("sh"), lit(hashes)))
      .select(col("doc_id"), col("sh"),
        Dedup.bandSigsOf(col("sigs"), bands, hashes / bands).as("bsigs"))
      .collect().toSeq
    val cand = candidatesFor(spark, table, shq.flatMap(r =>
        r.getSeq[String](2).zipWithIndex.map { case (sig, b) =>
          (r.getLong(0), b, sig) })
        .toDF("doc_id", "band", "sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the store scan executed in the candidate collect — refuse a reband
    // that landed after the banding read (silent-empty guard)
    StoreFamily.requireStable(table, banding, recordedBanding(spark, table))
    val byBench = shq.groupMap(_.getLong(0))(_.getSeq[String](1))
    val fan = StoreFamily.fanOut(LongType, VerifyEntry,
      cand.flatMap { case (b, d) => byBench(b).map(sh => (d: Any) -> Row(b, sh)) })
    // only candidate docs re-shingle, pruned by the id literal or not
    Dedup.verifiedPairs(fan.spread(Dedup.shinglesOf(fan.prune(
          corpusDocs.select(col("doc_id"), col("text")), "doc_id")
          .filter(fan.holds("doc_id")), shingle), "doc_id"),
      col("q.bench_id"), col("doc_id"), col("q.sh"), col("sh"))
  }

  /** A verify fan-out entry: a bench doc and its shingles. */
  private val VerifyEntry = StructType(Seq(StructField("bench_id", LongType),
    StructField("sh", ArrayType(StringType))))

  /** Verified near-dup pairs of the WHOLE indexed collection — the
    * recurring full-corpus dedup sweep (q30) served from the store: the
    * candidate stage is a SELF-JOIN of the band table on (band, sig),
    * and because both sides are the same sig-bucketed layout it plans
    * with ZERO exchanges below the join (each bucket joins itself
    * in place — the Bucketing co-location win applied to the hottest
    * dedup rendezvous; spec-pinned no-Exchange). The verify is
    * candidate-bounded exactly like [[nearDupsFor]]: pair volume tracks
    * true duplication (bucket-occupancy-bounded, the q30 argument), so
    * small sweeps collect-and-push the ids, large ones route to the
    * distributed semi-join (the [[Bucketing.PruneLiteralLimit]] rule on pair
    * count).
    * Output (doc_a, doc_b, jaccard ≥ 0.5) — q140 registers it against
    * q30's own oracle SQL. */
  def nearDupPairs(spark: SparkSession, table: String,
      corpusDocs: DataFrame): DataFrame =
    nearDupPairsRouted(spark, table, corpusDocs, Bucketing.PruneLiteralLimit)

  /** [[nearDupPairs]] with the collect-route limit injectable — the
    * spec forces the distributed route on a small fixture (limit 0);
    * production always routes at [[Bucketing.PruneLiteralLimit]]. */
  private[graft] def nearDupPairsRouted(spark: SparkSession, table: String,
      corpusDocs: DataFrame, routeLimit: Int): DataFrame = {
    import spark.implicits._
    val bandingAtStart = bandingOf(StoreFamily.open(Family, spark, table))
    // the candidate stage EXECUTES inside the relaxed-co-partition
    // scope (count + collect/checkpoint below) — the returned verify
    // frame carries no self-join, so the conf never leaks into the
    // caller's plans
    val (pairs, candDocs) = withRelaxedCoPartition(spark) {
      val cand = pairCandidates(spark, table).distinct()
      val nPairs = cand.count()
      if (nPairs <= routeLimit) {
        val collected = cand.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        val ids = collected.flatMap(p => Seq(p._1, p._2)).distinct
        (collected.toDF("doc_a", "doc_b"),
          corpusDocs.filter(col("doc_id").isin(ids: _*)))
      } else {
        val c = cand.localCheckpoint(true)
        val ids = c.select(col("doc_a").as("doc_id"))
          .union(c.select(col("doc_b").as("doc_id"))).distinct()
        (c, corpusDocs.join(ids, Seq("doc_id"), "left_semi"))
      }
    }
    // the candidate self-join executed above (count + collect /
    // checkpoint) — refuse a reband that landed mid-sweep, and verify
    // at the banding the candidates actually collided at
    StoreFamily.requireStable(table, bandingAtStart,
      recordedBanding(spark, table))
    val sh = Dedup.shingleOn(spark, candDocs, bandingAtStart._1)
    Dedup.crossVerify(
      pairs.select(col("doc_a").as("bench_id"), col("doc_b").as("doc_id")),
      sh, sh)
      .select(col("bench_id").as("doc_a"), col("doc_id").as("doc_b"),
        col("jaccard"))
  }

  /** Why the sweep may relax `requireAllClusterKeysForCoPartition`:
    * the self-join keys are (band, sig) while the bucket key is `sig`
    * alone, and Spark's default refuses subset-key co-partitioning —
    * BY ITS OWN DOC STRING "to avoid data skews ... if shuffles are
    * eliminated", a performance conservatism, not a correctness rule
    * (rows with equal (band, sig) trivially share equal sig and
    * therefore a bucket). For THIS join the skew concern is inverted:
    * sig is a fine-grained md5 keyspace, so partition occupancy IS the
    * candidate volume — work that exists under any partitioning — and
    * the eliminated shuffle is the whole corpus-sized band table,
    * twice. Scoped set-and-restore; never session-global. */
  private def withRelaxedCoPartition[A](spark: SparkSession)(f: => A): A = {
    val k = "spark.sql.requireAllClusterKeysForCoPartition"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "false")
    try f finally spark.conf.set(k, prev)
  }

  /** The raw (doc_a, doc_b) band-collision pairs of the store's
    * self-join (pre-distinct) — exposed for the shuffle-free plan pin:
    * both sides are the same sig-bucketed table, so under
    * [[withRelaxedCoPartition]] the join plans with zero exchanges
    * below it. */
  private[graft] def pairCandidates(spark: SparkSession,
      table: String): DataFrame = {
    // tombstones subtract on BOTH legs of the self-join: a deferred-
    // deleted doc must neither anchor nor complete a candidate pair
    val live = Bucketing.liveRows(spark, table, "doc_id")
    live.as("x")
      .join(live.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
  }

  /** The lazy distinct (bench_id, doc_id) band collisions of `qbands`
    * (doc_id, band, sig) with the store. The band rows collect to the
    * driver once (a LocalRelation runs no job) and the store scan reads
    * the buckets of their signatures ([[StoreFamily.pointScan]]: the
    * plan-visible `SelectedBucketsCount` BandIndexSpec pins) with a
    * literal `sig → (band, doc_id)` fan-out; (band, sig) is the
    * rendezvous and tombstones subtract above the scan. */
  private[graft] def candidatesFor(spark: SparkSession, table: String,
      qbands: DataFrame): DataFrame = {
    val qb = qbands.select("sig", "band", "doc_id")
    val fan = StoreFamily.fanOut(qb.schema("sig").dataType,
      StructType(qb.schema.tail),
      qb.collect().toSeq.map(r => r.get(0) -> Row(r.get(1), r.get(2))))
    StoreFamily.pointScan(Family, spark, table, fan)
      .filter(col("band") === col("q.band"))
      .select(col("q.doc_id").as("bench_id"), col("doc_id"))
      // a point-sized probe dedupes in one task, exchange-free; the
      // aggregate above the Generate is also what keeps Spark's
      // DisableUnnecessaryBucketedScan from dropping the pruning
      .transform(fan.gather(_, "bench_id")).distinct()
  }

  /** Build-once memo for dir-derived stores — the registered q139 runs
    * through it ([[StoreFamily.ensureFor]]: `buckets` AND the corpus
    * predicate's fingerprint in the key and table name). */
  def ensureFor(spark: SparkSession, dir: String, tag: String,
      corpusPred: Column = lit(true), buckets: Int = 16): String =
    StoreFamily.ensureFor(Family, "bands", tag, dir, Seq(buckets),
      Some(corpusPred))(t => build(spark, dir, t, corpusPred, buckets))

  /** DELETE documents from the band store — the verb the sweep's own
    * verdicts feed back: [[nearDupPairs]]/q141 name near-dup losers and
    * [[nearDupsFor]]/q139 names contaminated docs, and purging them here
    * is what makes the NEXT sweep's candidate stage not re-derive the
    * same pairs forever. [[StoreFamily.delete]]; no derived statistics
    * in this family, so the purge is the whole operation. */
  def delete(spark: SparkSession, table: String, docIds: DataFrame): Unit =
    StoreFamily.delete(Family, spark, table, docIds)

  /** DEFERRED delete — [[StoreFamily.deleteDeferred]] on the other
    * recurring-sweep family; the tombstone append is the whole
    * operation. */
  def deleteDeferred(spark: SparkSession, table: String,
      docIds: DataFrame): Unit =
    StoreFamily.deleteDeferred(Family, spark, table, docIds)

  /** UPSERT/re-crawl — [[StoreFamily.reindex]]: the SAME doc_id arrives
    * with CHANGED text — an append would violate the disjoint-ids
    * contract and leave the old text's band rows silently coexisting
    * with the new (phantom collisions forever). The batch bands at the
    * RECORDED banding; a re-crawled doc now shorter than the shingle
    * width yields zero band rows and still loses its old ones. */
  def reindex(spark: SparkSession, table: String, docs: DataFrame): Unit = {
    val b = bandingOf(StoreFamily.open(Family, spark, table))
    val batch = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text")).localCheckpoint(true)
    StoreFamily.reindex(Family, spark, table, batch.select("doc_id"),
      Dedup.bandRowsOn(spark, batch, b).select("sig", "band", "doc_id"))
  }

  /** The store's row pipeline — exactly the recompute path's band
    * stage, column-ordered for the bucket layout (sig leads because it
    * is the bucket key; insertInto is positional, so build and append
    * share this one definition). */
  private def bandRows(docs: DataFrame): DataFrame =
    // band at the SAME constant the build records — one definition, so
    // moving Banding can never leave rows at one banding and properties
    // at another (the recordedBanding rule applied to the build itself)
    Dedup.bandRowsOn(docs.sparkSession, docs, Banding)
      .select("sig", "band", "doc_id")

  private def bandingOf(p: Map[String, String]): (Int, Int, Int) =
    (p(ShingleProp).toInt, p(HashesProp).toInt, p(BandsProp).toInt)
}
