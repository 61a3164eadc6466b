package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Similarity

/** PERSISTED IVF index — the third index family, closing the serving
  * symmetry for q37's coarse-quantized ANN the way [[AnnIndex]] closed
  * it for LSH and [[PostingsIndex]] for BM25: q37 re-derives the cell
  * assignment of EVERY corpus vector on every run (a broadcast cross
  * join + a per-vector window — linear in the corpus); a production
  * IVF store assigns at ingest and serves point queries from the
  * n-probe cells alone. [[build]] persists (cell, vec_id, v, nrm)
  * BUCKETED BY `cell`; [[topKFor]] ranks the query against the
  * centroids, collects its n-probe cell ids as LITERALS, and the scan
  * reads `SelectedBucketsCount: k out of N` — query cost tracks probed
  * CELL OCCUPANCY, which is precisely the IVF recall-for-scan-volume
  * trade (FAISS's nlist/nprobe), now realized at the I/O layer.
  *
  * The CENTROIDS are the index's physical identity — the banding
  * analog: vectors assigned against different centroids land in
  * incomparable cells and a probe would silently miss them. They
  * persist in a companion table `<table>_cent` written at build, and
  * [[appendVectors]] assigns every new batch against the RECORDED
  * centroids (never re-derived from the batch — q37's "first 8
  * vectors" rule is a training-time choice, frozen at build like a
  * k-means fit), so append≡rebuild holds by construction whenever the
  * rebuild's corpus yields the same centroid set (IvfIndexSpec pins
  * it). v and nrm ride every row — the AnnIndex self-contained
  * single-scan trade.
  *
  * Parity: candidates are the identical (probe-cell = assigned-cell,
  * self excluded) pairs q37 derives — each database vector lives in
  * exactly ONE cell, so the candidate set needs no dedup — re-ranked
  * by the same compiled dot fold and tie rule; q137 registers the
  * probe against q37's own DuckDB oracle (the q134/q135 trick on the
  * third family). */
object IvfIndex {

  /** q37's geometry — the DEFAULTS, kept for oracle parity (q137 probes
    * against q37's own DuckDB SQL, so the registered row freezes 8
    * deterministic centroids / 2-cell probes). Production sizes the fit
    * at build (`build(nCentroids = ...)` — FAISS's √n rule: more,
    * smaller cells so probed volume tracks n/nlist × nprobe) and the
    * probe depth per query (`topKFor(nProbe = ...)` — the
    * recall-for-scan-volume dial). The fit size is physical identity
    * and rides the centroid companion itself (appends assign against
    * the RECORDED centroids, so geometry can never silently fork);
    * nProbe is a per-query choice, not index state. */
  val NCentroids = 8
  val NProbe = 2

  private val FitProp = "graft.ivf.fit"

  /** Storage format of the cell rows: absent = full-precision (v, nrm)
    * rows written by [[build]] (which predates the property and never
    * writes it); "sq" = int8 scalar-quantized (qv, qnrm) rows written
    * by [[buildSq]]. The property is the ROUTING TRUTH every probe and
    * append reads (the recordedBanding rule — catalog state, not
    * column-name sniffing, which a future variant carrying a `qv`
    * column would silently fool): a float probe against codes (or vice
    * versa) fails loudly as "wrong entry point", never as an
    * unresolved-column stack trace. */
  private val StorageProp = "graft.ivf.storage"

  private[sources] def centTableOf(table: String): String = s"${table}_cent"

  /** The IVF family: rows keyed by vec_id, bucketed by `cell`, identity =
    * the recorded fit version, which must match the centroid
    * companion's ([[requireFitMatch]]). Both storages share it. */
  private[sources] val Family = StoreFamily("IvfIndex", "vec_id", "cell",
    Seq(FitProp), "embeddings", p => if (isSq(p)) "ivf_sq" else "ivf_float",
    companions = t => Seq(centTableOf(t)), check = requireFitMatch)

  private def isSq(p: Map[String, String]): Boolean =
    p.get(StorageProp).contains("sq")

  /** The one axis the float and SQ entry points differ on: the stored
    * row payload (`carry`), the query's payload in the probe, and the
    * in-cell score. Cell layout, fit identity, guards and maintenance
    * are shared. */
  private sealed abstract class Storage(val sq: Boolean,
      val carry: Seq[String], val probeCols: Seq[String], val score: String) {
    def payload(normed: DataFrame): DataFrame
    /** (query_id, qv, qnrm) full-precision queries + the probe payload */
    def query(q: DataFrame): DataFrame
    def scoreOf: Column
  }

  private object Full extends Storage(false, Seq("v", "nrm"),
      Seq("qv", "qnrm"), "cosine") {
    def payload(normed: DataFrame): DataFrame = normed
    def query(q: DataFrame): DataFrame = q
    def scoreOf: Column = Similarity.dot(col("pr.qv"), col("ix.v")) /
      (col("pr.qnrm") * col("ix.nrm"))
  }

  /** The SQ payload: ranking inside the probed cells is the quantized
    * cosine — the query quantizes with the shared quantizer and the
    * compiled int8 fold reads the stored codes IN PLACE (DotFoldI8: each
    * byte widens to the exact double it quantized from, bit-identical to
    * cast-then-DotFold; the first spelling's interpreted `transform`
    * cast materialized a fresh 64-element array per scanned row and cost
    * more than the 7x byte saving bought — SCALING.md round 18). */
  private object Sq extends Storage(true, Seq("qv", "qnrm"),
      Seq("aqv", "aqnrm"), "qcosine") {
    def payload(normed: DataFrame): DataFrame = sqPayload(normed)
    def query(q: DataFrame): DataFrame = q
      .withColumn("aqv", Similarity.int8Of(col("qv"),
        Similarity.int8Scale(col("qv"))))
      .withColumn("aqnrm", sqrt(Similarity.dot(col("aqv"), col("aqv"))))
    def scoreOf: Column =
      call_function("dot_fold_i8", col("ix.qv"), col("pr.aqv")) /
        (col("pr.aqnrm") * col("ix.qnrm"))
  }

  /** The storage routing check, run after [[StoreFamily.open]]. */
  private def requireStorage(st: Storage, table: String,
      p: Map[String, String]): Unit =
    if (st.sq) require(isSq(p),
      s"$table stores full-precision vectors (built by build) — probe it " +
        "with topKFor / grow it with appendVectors; the *Sq entries serve " +
        "stores built by buildSq")
    else require(!isSq(p),
      s"$table is an int8 SQ store (built by buildSq) — probe it with " +
        "topKForSq / grow it with appendVectorsSq; its rows carry codes, " +
        "not float vectors")

  /** Content fingerprint of a centroid fit — md5 over the rows in c_id
    * order, doubles rendered via their IEEE bit pattern (formatting-free,
    * so equal fits hash equal across JVMs). Recorded as the `graft.ivf.fit`
    * property on BOTH tables of the pair at build/[[refit]] time and
    * REQUIRED EQUAL by every probe and append: the cells table and the
    * centroid companion are two catalog objects, so a half-completed
    * [[refit]] (or any out-of-band rewrite of one side) would otherwise
    * serve probes that rank against one fit and scan cells assigned under
    * another — a SILENT recall loss, the exact hazard class the banding
    * require() closes on the other families, here made loud. The fit rows
    * are fit-sized (nCentroids), so the driver collect is bounded by
    * construction. */
  private def fitVersionOf(cent: DataFrame): String =
    StoreFamily.md5(cent.select(col("c_id"), col("cv"))
      .collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val bits = r.getSeq[Double](1)
          .map(d => java.lang.Double.doubleToLongBits(d).toString)
        s"${r.getLong(0)}:${bits.mkString(",")}"
      }
      .mkString(";"))

  /** A missing companion fails loudly: assignment against anything but
    * the recorded centroids would silently mis-cell a batch. */
  private def requireCompanion(spark: SparkSession, table: String): Unit =
    require(spark.catalog.tableExists(centTableOf(table)),
      s"$table carries no centroid companion (${centTableOf(table)}) — " +
        "not built by IvfIndex.build")

  /** The family's identity check past the recorded fit: the companion
    * exists and carries the SAME fit version. Rank-against-one-fit /
    * scan-another is a silent recall loss, so a torn pair (mid-refit, an
    * out-of-band rewrite) fails loudly; probes may retry after the refit
    * completes. */
  private def requireFitMatch(spark: SparkSession, table: String,
      p: Map[String, String]): Unit = {
    requireCompanion(spark, table)
    val (vc, vx) = (p(FitProp),
      Bucketing.props(spark, centTableOf(table)).getOrElse(FitProp, "none"))
    require(vc == vx,
      s"$table's cells were assigned under fit $vc but its centroid " +
        s"companion carries fit $vx — a half-completed refit or an " +
        "out-of-band rewrite; probes against the mismatched pair would " +
        "silently miss (re-run refit, or swap the lagging table)")
  }

  /** Assign `vectors` (vec_id, v, nrm, ...) to their nearest centroid —
    * ONE cell per vector, ties to the smaller centroid id (q37's
    * assignment, verbatim). `carry` is the payload the store keeps per
    * row: the full-precision (v, nrm) for the float store, the int8
    * codes (qv, qnrm) for the SQ store — assignment itself ALWAYS ranks
    * the full-precision vector against the float centroids (the IVF-SQ
    * standard: the coarse quantizer is float; only the stored lists are
    * codes). */
  private def assignOf(vectors: DataFrame, cent: DataFrame,
      carry: Seq[String]): DataFrame = {
    val simToCent = Similarity.dot(col("v"), col("cv")) /
      (col("nrm") * col("cnrm"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("c_sim").desc, col("c_id"))
    vectors.crossJoin(broadcast(cent))
      .select(col("vec_id") +: carry.map(col) :+ col("c_id") :+
        simToCent.as("c_sim"): _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_id").as("cell") +: col("vec_id") +: carry.map(col): _*)
  }

  /** Build the cell store + the centroid companion from the corpus at
    * `dir`. Centroids = the corpus's first `nCentroids` vectors (q37's
    * deterministic stand-in for a k-means fit — the fit, not the
    * fitting procedure, is what an index persists; a production build
    * passes its √n-sized fit here and every append/probe inherits it
    * through the companion). */
  def build(spark: SparkSession, dir: String, table: String,
      buckets: Int = 8, nCentroids: Int = NCentroids): Unit =
    buildAs(Full, spark, dir, table, buckets, nCentroids)

  private def buildAs(st: Storage, spark: SparkSession, dir: String,
      table: String, buckets: Int, nCentroids: Int): Unit = {
    val e = st.payload(Similarity.normedVectors(spark, dir))
    val cent = e.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm").as("cnrm"))
      .localCheckpoint(true)
    val fit = Map(FitProp -> fitVersionOf(cent))
    Bucketing.writeBucketed(assignOf(e, cent, st.carry), table, "cell", buckets)
    Bucketing.writeBucketed(cent, centTableOf(table), "c_id", 1)
    Bucketing.setProps(spark, table,
      fit ++ Option.when(st.sq)(StorageProp -> "sq"))
    Bucketing.setProps(spark, centTableOf(table), fit)
  }

  /** Incremental maintenance: assign a new batch against the RECORDED
    * centroids and insert bucket-aligned. Fit-version guarded (an
    * append against a companion the cells were not assigned under would
    * mis-cell the whole batch). Caller contract: new vec_ids disjoint
    * from the indexed set (the ingest-gate rule). */
  def appendVectors(table: String, embeddings: DataFrame): Unit =
    appendAs(Full, table, embeddings)

  private def appendAs(st: Storage, table: String,
      embeddings: DataFrame): Unit = {
    val spark = embeddings.sparkSession
    requireCompanion(spark, table)
    requireStorage(st, table, StoreFamily.open(Family, spark, table))
    val cent = spark.table(centTableOf(table)).localCheckpoint(true)
    val e = st.payload(Similarity.normedVectorsOf(spark, embeddings))
    Bucketing.insertAligned(spark, table, assignOf(e, cent, st.carry))
  }

  /** UPSERT/re-crawl on the cell store, storage-routed (one verb for
    * both layouts, like [[delete]]) — [[StoreFamily.reindex]]: the batch
    * re-assigns against the CURRENT fit and replaces its vec_ids' rows in
    * one staged rewrite. The centroid companion is untouched: a re-crawl
    * changes observations, never the fit. */
  def reindexVectors(table: String, embeddings: DataFrame): Unit = {
    val spark = embeddings.sparkSession
    val st = if (isSq(StoreFamily.open(Family, spark, table))) Sq else Full
    val cent = spark.table(centTableOf(table)).localCheckpoint(true)
    val normed = Similarity.normedVectorsOf(spark, embeddings)
      .localCheckpoint(true)
    StoreFamily.reindex(Family, spark, table, normed.select("vec_id"),
      assignOf(st.payload(normed), cent, st.carry))
  }

  /** Self-probe convenience (the AnnIndex.topK rule): anchors are the
    * indexed corpus's own `vec_id < nAnchors` rows — one un-pruned scan
    * to fetch them, then the pruned candidate scan. A point-query
    * caller holds its own (query_id, v, nrm) rows and calls
    * [[topKFor]], which scans the index exactly once, pruned. */
  def topK(spark: SparkSession, table: String, nAnchors: Int,
      k: Int, nProbe: Int = NProbe): DataFrame = {
    StoreFamily.open(Family, spark, table)
    // LIVE anchors only (the AnnIndex.topK rule): a tombstoned vector
    // must not probe on behalf of the more-like-this batch
    topKFor(spark, table,
      Bucketing.liveRows(spark, table, "vec_id")
        .filter(col("vec_id") < nAnchors)
        .select(col("vec_id").as("query_id"), col("v"), col("nrm")), k,
      nProbe)
  }

  /** The serving-path probe: `anchors` = (query_id, v, nrm) — normed
    * query vectors (callers norm via Similarity.normedVectorsOf). Ranks
    * each anchor against the broadcast centroid companion, collects the
    * union of `nProbe` cell ids to the driver (≤ anchors × nProbe of at
    * most fit-size values — trivially query-scale), and reads ONE
    * bucket-pruned scan of exactly those cells. `nProbe` is the
    * per-query recall-for-scan-volume dial (probe cost tracks
    * n/nlist × nProbe); the default is q37's 2. */
  def topKFor(spark: SparkSession, table: String, anchors: DataFrame,
      k: Int, nProbe: Int = NProbe): DataFrame =
    probe(Full, spark, table, anchors, k, nProbe)

  private def probe(st: Storage, spark: SparkSession, table: String,
      anchors: DataFrame, k: Int, nProbe: Int): DataFrame = {
    if (st.sq) graft.plans.GraftExtensions.install(spark)
    requireStorage(st, table, StoreFamily.open(Family, spark, table))
    val simToCent = Similarity.dot(col("qv"), col("cv")) /
      (col("qnrm") * col("cnrm"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("c_sim").desc, col("c_id"))
    // (query_id, cell, query payload): each anchor's nProbe nearest
    // cells, ranked full-precision (the coarse quantizer never sees
    // codes), the query payload riding along for the single-pass re-rank
    val probes = st.query(anchors
        .select(col("query_id"), col("v").as("qv"), col("nrm").as("qnrm")))
      .crossJoin(broadcast(spark.table(centTableOf(table))))
      .select(col("query_id") +: st.probeCols.map(col) :+ col("c_id") :+
        simToCent.as("c_sim"): _*)
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("query_id") +: col("c_id").as("cell") +:
        st.probeCols.map(col): _*)
      .localCheckpoint(true)
    val probeCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val wRank = Window.partitionBy("query_id")
      .orderBy(col(st.score).desc, col("neighbor_id"))
    // bucket pruning HERE — the probed cells always ship as the literal
    StoreFamily.probeScan(Family, spark, table, Some(probeCells)).as("ix")
      .join(broadcast(probes.as("pr")),
        col("ix.cell") === col("pr.cell") &&
          col("ix.vec_id") =!= col("pr.query_id"))
      .select(col("pr.query_id"), col("ix.vec_id").as("neighbor_id"),
        st.scoreOf.as(st.score))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** DELETE vectors from the cell store — [[StoreFamily.delete]], on
    * both storage formats unchanged (the anti-join keys on vec_id and
    * never touches the payload). The centroid companion is untouched —
    * centroids are FIT state, not row state; deleting rows can skew
    * occupancy ([[cellStats]] is the watch metric) but never invalidates
    * the assignment of the rows that remain. Refuses a torn pair: a
    * delete mid-refit would carry the stale fit property forward and
    * mask the tear. */
  def delete(spark: SparkSession, table: String, vecIds: DataFrame): Unit =
    StoreFamily.delete(Family, spark, table, vecIds)

  /** DEFERRED delete — [[StoreFamily.deleteDeferred]], both storages.
    * One stated asymmetry: [[cellStats]] keeps reading PHYSICAL occupancy
    * until the fold — the refit trigger's skew metric tracks what probes
    * actually scan (tombstoned rows still occupy the cell files). */
  def deleteDeferred(spark: SparkSession, table: String,
      vecIds: DataFrame): Unit =
    StoreFamily.deleteDeferred(Family, spark, table, vecIds)

  /** The recorded fit's size (row count of the centroid companion) —
    * what a maintenance refit sizes its replacement fit at (the
    * curatedCellIndexed trigger's k). */
  def fitSize(spark: SparkSession, table: String): Int = {
    requireCompanion(spark, table)
    spark.catalog.refreshTable(centTableOf(table))
    spark.table(centTableOf(table)).count().toInt
  }

  /** Per-cell occupancy of the store — the IVF family's health metric,
    * the [[Bucketing.dataFileCount]] analog for FIT quality rather than
    * file fragmentation: probe cost tracks probed-cell occupancy, so a
    * fit the ingested distribution has drifted away from shows up here
    * as skew (a few hot cells holding most vectors ⇒ probes that hit
    * them scan a corpus-sized slice — the IVF failure mode). One
    * aggregation over the cell key; read it on a maintenance cadence
    * and [[refit]] when max/mean occupancy passes the deployment's
    * threshold. */
  def cellStats(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(table)
    spark.table(table).groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("cell")
  }

  private def refitSqMessage(table: String): String =
    s"$table is an int8 SQ store — its rows carry codes, not the float " +
      "vectors reassignment ranks; fit maintenance for an SQ store is a " +
      "rebuild from the source corpus (buildSq at the new fit)"

  /** The fit's full rewrite, shared by [[refit]] and [[rebuildSq]]: the
    * cells are re-assigned against `cent` (materialized) from
    * `payload(live rows)`, then the companion swaps to `cent` — two
    * [[StoreFamily.rewrite]]s, each recording the new fit version. */
  private def swapFit(st: Storage, spark: SparkSession, table: String,
      cent: DataFrame)(payload: DataFrame => DataFrame): Unit = {
    val fit = Map(FitProp -> fitVersionOf(cent))
    StoreFamily.rewrite(spark, table, props = fit)(
      live => assignOf(payload(live), cent, st.carry))
    StoreFamily.rewrite(spark, centTableOf(table), props = fit)(_ => cent)
  }

  /** RE-FIT maintenance — the IVF analog of [[Bucketing.compact]], for
    * fit drift instead of file fragmentation: the centroids are frozen
    * at build (training-time state), so a stream whose distribution
    * drifts from the fit piles vectors into few hot cells and probe
    * cost degrades toward a full scan ([[cellStats]] is the trigger
    * metric). `refit` REASSIGNS every live stored vector against
    * `newCent` (c_id, cv, cnrm — the caller's new fit: a k-means pass in
    * production, any deterministic rule in specs) and swaps BOTH tables,
    * each through the staged [[StoreFamily.rewrite]].
    *
    * Torn-pair honesty: the two swaps are two catalog operations, not
    * one transaction. Between them the pair is INCONSISTENT — cells
    * assigned under the new fit, companion still carrying the old — and
    * every probe and append FAILS LOUDLY on the torn state (the
    * `graft.ivf.fit` guard; single-writer, probes-may-retry). Crash
    * recovery: cells swapped + companion not ⇒ re-run just the
    * companion swap (the staged table is intact under
    * `<cent>__compact`) or re-run refit; nothing is lost either way.
    * Cost: one full scan + reassignment of the store — the same
    * one-rewrite-buys-every-probe trade as compaction, measured in
    * SCALING.md round 18's drift probe. */
  def refit(spark: SparkSession, table: String, newCent: DataFrame): Unit = {
    // refuse to stack a refit on a torn pair; refit REASSIGNS, and
    // assignment ranks full-precision vectors — an SQ store kept only
    // the codes (the 7x compression's stated price: FAISS's SQ indexes
    // can't re-train from codes either)
    require(!isSq(StoreFamily.open(Family, spark, table)),
      refitSqMessage(table))
    swapFit(Full, spark, table, newCent.select(col("c_id"), col("cv"),
      col("cnrm")).localCheckpoint(true))(_.select("vec_id", "v", "nrm"))
  }

  /** [[refit]] with the engine's deterministic fit rule applied to the
    * CURRENT store: the new centroids are the store's `nCentroids`
    * smallest vec_ids' vectors (the build rule re-run over the grown
    * corpus — the spec-replayable stand-in; production hands [[refit]]
    * a real k-means fit). */
  def refit(spark: SparkSession, table: String, nCentroids: Int): Unit = {
    spark.catalog.refreshTable(table)
    // guard BEFORE the select below analyzes — an SQ store has no `v`
    // column and the unresolved-column error would mask the real contract
    require(!isSq(Bucketing.props(spark, table)), refitSqMessage(table))
    // LIVE rows: a tombstoned vector must not define the replacement fit
    refit(spark, table, firstCentroids(nCentroids,
      Bucketing.liveRows(spark, table, "vec_id")))
  }

  /** The `n` smallest vec_ids' vectors as a fit (c_id, cv, cnrm) — the
    * deterministic rule the Int overloads re-run over the grown store.
    * orderBy+limit plans as TakeOrderedAndProject (per-partition top-n,
    * driver merge of n rows) — never a global sort. */
  private def firstCentroids(n: Int, vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"), col("v"), col("nrm"))
      .orderBy("vec_id").limit(n)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm").as("cnrm"))

  /** Build-once memo for dir-derived indexes — the registered q137 runs
    * through it ([[StoreFamily.ensureFor]], with the layout parameters in
    * the key and table name). */
  def ensureFor(spark: SparkSession, dir: String, tag: String,
      buckets: Int = 8, nCentroids: Int = NCentroids): String =
    StoreFamily.ensureFor(Family, "ivf", tag, dir, Seq(buckets, nCentroids))(
      t => build(spark, dir, t, buckets, nCentroids))

  // ---------------------------------------------------------------------
  // IVF-SQ: int8 scalar-quantized cell storage — the composition q38's
  // scaladoc names ("composed with q37's IVF cells this is the standard
  // IVF-SQ index"), realized on the persisted family. The cell layout,
  // fit identity, guards, and maintenance triggers are IDENTICAL to the
  // float store; what changes is the ROW PAYLOAD ([[Storage]]): 64 signed
  // bytes + one double norm (~72 B) instead of 64 doubles + a norm
  // (~520 B), a ~7x reduction in the bytes every probed cell scans — the
  // memory-bandwidth lever that turns a 100 TB embedding store into
  // ~14 TB of codes executors can hold in page cache. Ranking inside the
  // probed cells is the quantized cosine (exact small-integer
  // arithmetic, so the q143 oracle hash-matches DuckDB bit-for-bit, the
  // q38 precedent); the coarse quantizer stays full-precision (float
  // centroids, float query), the FAISS IVF-SQ split. The stated price:
  // (a) ranking error bounded by the per-vector scale grid — measured
  // against the float ranking in IvfSqSpec, with the all-cells endpoint
  // pinned equal to q38's full quantized scan; (b) refit is impossible
  // from codes alone (see [[refit]]'s guard) — fit maintenance on an SQ
  // store is a rebuild from the source corpus.
  // ---------------------------------------------------------------------

  /** The SQ row payload for a normed-vector frame: the shared quantizer
    * ([[Similarity.int8Scale]]/[[Similarity.int8Of]] — q38's, by
    * construction) plus the quantized norm, codes cast to tinyint LAST
    * (qnrm folds the exact double-carried integers; the cast is pure
    * storage narrowing, values unchanged). */
  private def sqPayload(normed: DataFrame): DataFrame = {
    val scale = Similarity.int8Scale(col("v"))
    normed
      .withColumn("qv", Similarity.int8Of(col("v"), scale))
      .withColumn("qnrm", sqrt(Similarity.dot(col("qv"), col("qv"))))
      .withColumn("qv", transform(col("qv"), x => x.cast("tinyint")))
  }

  /** [[build]]'s SQ twin: same fit (first `nCentroids` vectors, float),
    * same cell assignment, but the store keeps (cell, vec_id, qv, qnrm)
    * — int8 codes + quantized norm — and records `graft.ivf.storage=sq`
    * so every entry point routes loudly. */
  def buildSq(spark: SparkSession, dir: String, table: String,
      buckets: Int = 8, nCentroids: Int = NCentroids): Unit =
    buildAs(Sq, spark, dir, table, buckets, nCentroids)

  /** [[appendVectors]]'s SQ twin: quantize the batch with the shared
    * quantizer, assign its FLOAT vectors against the recorded centroids
    * (the coarse quantizer never sees codes), insert bucket-aligned. */
  def appendVectorsSq(table: String, embeddings: DataFrame): Unit =
    appendAs(Sq, table, embeddings)

  /** [[topKFor]]'s SQ twin: `anchors` = (query_id, v, nrm) — queries
    * arrive FULL-PRECISION (the serving reality; the store alone is
    * quantized). Coarse ranking against the float centroid companion is
    * identical to the float probe — so the probed CELLS are exactly the
    * float probe's — and the in-cell re-rank is the quantized cosine,
    * `rank` ordered by (qcosine DESC, neighbor_id), q38's tie rule.
    * Output column is `qcosine`, matching the q143 oracle. */
  def topKForSq(spark: SparkSession, table: String, anchors: DataFrame,
      k: Int, nProbe: Int = NProbe): DataFrame =
    probe(Sq, spark, table, anchors, k, nProbe)

  /** FIT MAINTENANCE for the SQ store — the scheduled rebuild the
    * [[refit]] guard and the streaming loop's scaladoc tell deployments
    * to run: an SQ store keeps only codes, so reassignment against a
    * new fit needs the SOURCE CORPUS back (`embeddings` — the same
    * (vec_id, label, embedding) frame the build read; at 100 TB that is
    * the cold corpus the codes were quantized from, re-read once per
    * fit change — the stated operational price of the 7× compression).
    * Re-quantizes and re-assigns every corpus vector whose vec_id the
    * store holds (the store's membership is the truth — vectors deleted
    * from the store stay deleted; vectors in the store but absent from
    * the handed corpus FAIL the completeness check loudly, because
    * silently dropping them would be a delete nobody asked for), then
    * swaps BOTH tables with the new fit version — [[refit]]'s torn-pair
    * contract verbatim. Unlike every other verb it does not require a
    * matching pair: it is the repair. */
  def rebuildSq(spark: SparkSession, table: String, embeddings: DataFrame,
      newCent: DataFrame): Unit = {
    spark.catalog.refreshTable(table)
    requireStorage(Sq, table, StoreFamily.recorded(Family, spark, table))
    val cent = newCent.select(col("c_id"), col("cv"), col("cnrm"))
      .localCheckpoint(true)
    // LIVE membership: the rebuild re-quantizes the store's logical
    // contents (and its rewrite folds the pending tombstones)
    val payload = sqPayload(StoreFamily.liveMembers(Family, spark, table,
      Similarity.normedVectorsOf(spark, embeddings))).localCheckpoint(true)
    val dup = payload.count() - payload.select("vec_id").distinct().count()
    require(dup == 0L,
      s"the handed corpus carries $dup duplicate vec_ids among the store's " +
        "members — a rebuild would land duplicate rows; dedup the corpus " +
        "frame first (one embedding per vec_id is the build contract)")
    swapFit(Sq, spark, table, cent)(_ => payload)
  }

  /** [[rebuildSq]] with the deterministic fit rule ([[refit]]'s Int
    * overload on the SQ family): the new centroids are the corpus's
    * `nCentroids` smallest INDEXED vec_ids' float vectors — read from
    * the handed corpus, because the store's own rows carry only codes. */
  def rebuildSq(spark: SparkSession, table: String, embeddings: DataFrame,
      nCentroids: Int): Unit = {
    spark.catalog.refreshTable(table)
    val ids = Bucketing.liveRows(spark, table, "vec_id").select("vec_id")
    rebuildSq(spark, table, embeddings, firstCentroids(nCentroids,
      Similarity.normedVectorsOf(spark, embeddings)
        .join(ids, Seq("vec_id"), "left_semi")))
  }

  /** Build-once memo for the SQ store — the registered q143 runs through
    * it (the ensureFor rule; `ivfsq` keyspace so a float and an SQ index
    * over the same dir never collide). */
  def ensureForSq(spark: SparkSession, dir: String, tag: String,
      buckets: Int = 8, nCentroids: Int = NCentroids): String =
    StoreFamily.ensureFor(Family, "ivfsq", tag, dir, Seq(buckets, nCentroids))(
      t => buildSq(spark, dir, t, buckets, nCentroids))
}
