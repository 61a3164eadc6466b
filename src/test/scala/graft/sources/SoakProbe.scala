package graft.sources

import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.CurationChain

/** Dev-only PRODUCTION-DAY SOAK: every prior probe measured one loop or
  * one maintenance pass in isolation and probed BETWEEN batches; the
  * unanswered deployment question is the composed one — FIVE streaming
  * loops (postings, content-gated postings, near-dup band gate, LSH
  * vectors, IVF vectors: the README topology diagram, running) in one
  * session WHILE a serving thread probes the families continuously,
  * with every maintenance trigger armed (compaction everywhere, the
  * ANN adaptive-banding reband, the IVF skew refit, fed deliberately
  * drifting vectors). What this
  * exercises that nothing else does: probes landing INSIDE maintenance
  * windows (the staged-swap instant, the reband re-sign, the refit's
  * two-table swap) must fail with the documented LOUD retryable errors
  * — never silently wrong, never a non-retryable crash — and probe
  * latency between those instants must stay at its isolated-session
  * level. The probe classifies every failure: the documented retryable
  * classes are counted per family (they are the contract working as
  * stated); anything else fails the soak.
  *
  *   sbt "Test/runMain graft.sources.SoakProbe [dir] [epochs]"
  *
  * Ends with hard assertions: all five stores hold exactly what was
  * streamed — with the gates' closed forms holding live (gated store =
  * the corpus's distinct content fingerprints) — at least one reband +
  * one refit + one compaction actually fired, and zero unexpected
  * probe failures occurred. */
object SoakProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val epochs = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      // FAIR across pools: under the default FIFO scheduler every probe
      // job queues behind whole ingest stages (first soak run: 55 s
      // probe walls that measure the QUEUE, not the probe) — a serving
      // thread beside ingest is exactly what pool-fair scheduling is
      // for, and is how a production cluster runs this topology
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val T0 = Timestamp.valueOf("2026-01-01 00:00:00")

    // ---- corpora -----------------------------------------------------
    // docs: the sf corpus streamed in epoch slices; sources sized so the
    // chain's per-source quota never rejects (maintenance is the
    // subject, not gating)
    val docsAll = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // vectors: 8 sign-flip copies for the ANN loop (ids above the base
    // corpus), 8 DRIFTED copies for the IVF loop (SCALING.md round 18's
    // fit-drift "new domain enters the crawl" shape — crowds the base fit so the
    // skew trigger must fire), ids in a third range
    val base = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "label", "embedding")
    val span = base.agg(max("vec_id")).head.getLong(0) + 1
    val baseN = base.count() // verdicts are corpus-size-derived, never literals
    def signLit(c: Int): Column = typedLit((0 until 64).map(i =>
      if (((c * 2654435761L >>> (i % 31)) & 1L) == 1L) -1.0f else 1.0f))
    val dirLit = typedLit((0 until 64).map(i => ((i % 7) - 3) * 0.1f))
    def tiled(c: Int): DataFrame = base.select(
      (col("vec_id") + lit(c * span)).as("vec_id"), col("label"),
      zip_with(col("embedding"), signLit(c), (x, s) => x * s)
        .as("embedding"))
    val annVecs = (1 to 8).map(tiled).reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val ivfVecs = (1 to 8).map(c => tiled(c).select(
        (col("vec_id") + lit(100000L)).as("vec_id"), col("label"),
        zip_with(col("embedding"), dirLit, (x, d) => x * 0.5f + d)
          .as("embedding")))
      .reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    println(s"[soak] dir=$dir epochs=$epochs docs=${docsAll.length} " +
      s"annVecs=${annVecs.length} ivfVecs=${ivfVecs.length}")

    // ---- stores ------------------------------------------------------
    PostingsIndex.build(spark, dir, "soak_post", corpusPred = lit(false))
    AnnIndex.build(spark, dir, "soak_ann") // 4x8 — the rule will reband
    IvfIndex.build(spark, dir, "soak_ivf", buckets = 16, nCentroids = 8)
    // the gated loop's fixtures: empty sealed store + capacity-sized
    // bloom (the q126 gate's driver state), empty postings target
    graft.queries.Curation.sealStore("soak_sealed",
      graft.Tables.documents(spark, dir).limit(0)
        .select(graft.queries.Curation.bowFingerprint.as("fp")), buckets = 8)
    val gateCapacity = 2L * docsAll.length
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(gateCapacity, 0.01)
    PostingsIndex.build(spark, dir, "soak_gpost", corpusPred = lit(false))
    // the near-dup gate's store, empty: the stream IS its corpus
    BandIndex.build(spark, dir, "soak_band", corpusPred = lit(false))
    def fitProp(): String = spark.sql("SHOW TBLPROPERTIES soak_ivf")
      .collect().collectFirst {
        case r if r.getString(0) == "graft.ivf.fit" => r.getString(1)
      }.getOrElse("?")
    val fit0 = fitProp()

    // ---- fixed probe fixtures (query-scale, precomputed once) --------
    val bench = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("query_id"), col("text"))
      .localCheckpoint(true)
    val queryVecs = graft.queries.Similarity.normedVectors(spark, dir)
      .filter(col("vec_id") < 20).localCheckpoint(true)
    val ivfAnchors = queryVecs
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"))
      .localCheckpoint(true)
    // the band probe's verify side reads texts from the source corpus
    // (the store holds band rows only); the bench slice is also
    // streamed, so self near-dups appear in results — the soak reads
    // this probe for AVAILABILITY/latency, content asserts live in
    // BandIndexSpec
    val corpusDocs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val bandQueries = bench.limit(10)
      .select(col("query_id").as("doc_id"), col("text"))
      .localCheckpoint(true)

    // ---- the serving thread ------------------------------------------
    // the documented retryable classes: the fit-version guard, the
    // banding guard, missing stats/companion during a swap instant,
    // table-not-found between DROP and RENAME, and file listings gone
    // stale mid-rewrite. Everything else is an unexpected failure and
    // fails the soak.
    // Matched against the guards' EXACT phrases, not loose substrings:
    // a bare "fit"/"does not exist" match would also swallow genuine
    // schema/resolution regressions as benign retries and hollow out
    // the soak's zero-unexpected verdict.
    def retryable(t: Throwable): Boolean = {
      val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .take(8).toSeq
      chain.exists { e =>
        val m = Option(e.getMessage).getOrElse("")
        m.contains("TABLE_OR_VIEW_NOT_FOUND") ||       // swap instant
          m.contains("Table or view not found") ||
          m.contains("half-completed refit") ||        // IvfIndex fit guard
          m.contains("carries no graft") ||            // stats/banding props mid-swap
          m.contains("carries no centroid companion") ||
          m.contains("carries no bucket spec") ||
          m.contains("PATH_NOT_FOUND") ||              // listing gone mid-rewrite
          e.isInstanceOf[java.io.FileNotFoundException]
      }
    }
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val retries = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    val unexpected = new AtomicInteger(0)
    val running = new AtomicBoolean(true)
    def probeOnce(family: String)(f: => DataFrame): Unit =
      if (running.get()) try {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        lat.add((family, (System.nanoTime() - t0) / 1e9))
      } catch {
        case t: Throwable if retryable(t) =>
          retries.computeIfAbsent(family, _ => new AtomicInteger).incrementAndGet()
        // a probe mid-flight when the soak winds down dies on the
        // stopping context — shutdown noise, not a finding
        case t: Throwable if running.get() =>
          if (unexpected.incrementAndGet() <= 3) {
            System.err.println(s"[soak] UNEXPECTED $family failure:")
            t.printStackTrace()
          }
        case _: Throwable => ()
      }
    val prober = new Thread(() => {
      // the serving pool: fair-shared against the streams' default pool
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "serving")
      while (running.get()) {
        probeOnce("post") {
          PostingsIndex.topKFor(spark, "soak_post", bench, 5)
        }
        probeOnce("ann") {
          // sign at the CATALOG banding each iteration — a reband
          // mid-soak changes it, and the serving path must follow
          val (t, b) = AnnIndex.recordedBanding(spark, "soak_ann")
          AnnIndex.topKFor(spark, "soak_ann",
            graft.queries.Similarity.signatureRowsOf(queryVecs, t, b), 5)
        }
        probeOnce("ivf") {
          IvfIndex.topKFor(spark, "soak_ivf", ivfAnchors, 3)
        }
        probeOnce("gpost") {
          PostingsIndex.topKFor(spark, "soak_gpost", bench, 5)
        }
        probeOnce("band") {
          BandIndex.nearDupsFor(spark, "soak_band", corpusDocs, bandQueries)
        }
      }
    }, "soak-prober")

    // ---- the three streaming loops -----------------------------------
    implicit val sqlCtx = spark.sqlContext
    val docsIn = MemoryStream[(Long, Timestamp, String, String)]
    val gateIn = MemoryStream[(Long, Timestamp, String, String)]
    val bandIn = MemoryStream[(Long, Timestamp, String, String)]
    val annIn = MemoryStream[(Long, Timestamp, Int, Seq[Float])]
    val ivfIn = MemoryStream[(Long, Timestamp, Int, Seq[Float])]
    val qPost = CurationChain.curatedIndexed(
      docsIn.toDF().toDF("doc_id", "ts", "source", "text"), "soak_post",
      compactAboveFiles = 400).start()
    val qGate = CurationChain.curatedGatedIndexed(
      gateIn.toDF().toDF("doc_id", "ts", "source", "text"), "soak_sealed",
      "soak_gpost", bloom, capacity = gateCapacity,
      compactAboveFiles = 400).start()
    val qBand = CurationChain.curatedBandIndexed(
      bandIn.toDF().toDF("doc_id", "ts", "source", "text"), "soak_band",
      compactAboveFiles = 400)().start()
    // ANN threshold note: at the rule's (8, 4) banding there are only 16
    // distinct sig values, so aligned appends add ≤16 files/epoch — 200
    // is the horizon a 16-epoch soak actually crosses
    val qAnn = CurationChain.curatedVectorIndexed(
      annIn.toDF().toDF("vec_id", "ts", "label", "embedding"), "soak_ann",
      compactAboveFiles = 200, rebandOnAdaptive = true,
      rebandCheckEvery = 6).start()
    val qIvf = CurationChain.curatedCellIndexed(
      ivfIn.toDF().toDF("vec_id", "ts", "label", "embedding"), "soak_ivf",
      compactAboveFiles = 120, refitAboveSkew = 2.5,
      refitCheckEvery = 4).start()

    val fileSeen = scala.collection.mutable.Map(
      "soak_post" -> Seq.empty[Int], "soak_ann" -> Seq.empty[Int],
      "soak_ivf" -> Seq.empty[Int], "soak_gpost" -> Seq.empty[Int],
      "soak_band" -> Seq.empty[Int])
    // ---- the round-19 maintenance legs: DELETE under serving + the
    // band-family REBAND. Both run on the maintenance cadence — between
    // batches, from the coordinating thread, while the streams are
    // quiescent (the single-writer contract every maintenance verb
    // states) — but the SERVING thread keeps probing throughout, so
    // probes land inside the staged-swap instants and must hit only the
    // documented retryable classes. Condemned sets come from epoch-0
    // slices (already streamed, never re-delivered), so the final
    // row-accounting verdicts stay exact.
    val condemnedDocIds = docsAll.map(_._1)
      .filter(id => id % epochs == 0 && id % 5 == 3).toSeq
    val condemnedAnnIds = annVecs.map(_._1)
      .filter(_ % epochs == 0).take(60).toSeq
    val condemnedIvfIds = ivfVecs.map(_._1)
      .filter(_ % epochs == 0).take(60).toSeq
    var deletesRan = false
    var deletedGated = 0L
    // the leg needs streamed state to purge: with epochs < 2 it would
    // fire at k = 0 over empty stores, delete nothing, and the final
    // accounting (which subtracts the condemned counts) would fail for
    // a configuration artifact, not an engine defect — skip it and the
    // matching verdict below
    val maintenanceEpoch = if (epochs >= 2) epochs / 2 else -1
    // the RE-CRAWL leg (round 20): a slice of already-streamed docs
    // re-arrives with changed text at the three-quarter mark — the
    // upsert verb under serving. Ids disjoint from the condemned set
    // (% 5 == 1 vs == 3); same ids, so the closed-form doc counts are
    // unchanged and the verdicts below hold as written; text stays
    // ≥ shingle width so the band store's distinct-doc count holds too.
    val recrawlEpoch = if (epochs >= 4) (3 * epochs) / 4 else -1
    val recrawled = docsAll
      .filter { case (id, _) => id % epochs == 0 && id % 5 == 1 }
      .take(50)
      .map { case (id, t) => (id, s"$t recrawled revision zqx$id") }.toSeq
    var recrawlRan = false
    prober.start()
    try {
      (0 until epochs).foreach { k =>
        if (k == maintenanceEpoch) {
          // the sweeps' verdicts feed back: purge condemned docs/vectors
          // from all four families, then move the band family's banding
          // (adaptiveBanding's transition applied to MinHash: wider
          // shingles, more bands) — every later batch and probe must
          // follow the catalog's recorded banding
          val cd = condemnedDocIds.toDF("doc_id").localCheckpoint(true)
          // the content gate admitted only each fingerprint's first
          // instance, so the gated store's intersection with the
          // condemned set is data-dependent — capture it for the
          // closed-form verdict (delete itself is idempotent on the
          // absent rest)
          spark.catalog.refreshTable("soak_gpost")
          deletedGated = spark.table("soak_gpost").select("doc_id")
            .distinct().join(cd, Seq("doc_id"), "left_semi").count()
          // the plain postings store takes the DEFERRED verb (round 20)
          // — serving probes pay the tombstone anti-join from this
          // instant until the streaming loop's own compaction trigger
          // folds it physically, all under continuous probing; the
          // gated store keeps the eager verb so both paths soak
          PostingsIndex.deleteDeferred(spark, "soak_post", cd)
          PostingsIndex.delete(spark, "soak_gpost", cd)
          BandIndex.delete(spark, "soak_band", cd)
          AnnIndex.delete(spark, "soak_ann",
            condemnedAnnIds.toDF("vec_id"))
          IvfIndex.delete(spark, "soak_ivf",
            condemnedIvfIds.toDF("vec_id"))
          BandIndex.reband(spark, "soak_band", corpusDocs,
            shingle = 4, hashes = 16, bands = 8)
          deletesRan = true
          println(s"[soak] epoch=${k + 1} maintenance: deleted " +
            s"${condemnedDocIds.size} docs / ${condemnedAnnIds.size} ann " +
            s"/ ${condemnedIvfIds.size} ivf vecs; rebanded soak_band -> " +
            s"${BandIndex.recordedBanding(spark, "soak_band")}")
        }
        if (k == recrawlEpoch && recrawled.nonEmpty) {
          // re-crawl under serving: one staged rewrite per family,
          // probes may land inside the swap instants (retryable)
          val batch = recrawled.toDF("doc_id", "text")
          PostingsIndex.reindex(spark, "soak_post", batch)
          BandIndex.reindex(spark, "soak_band", batch)
          recrawlRan = true
          println(s"[soak] epoch=${k + 1} re-crawl: reindexed " +
            s"${recrawled.size} docs on soak_post + soak_band")
        }
        val docRows = docsAll.filter(_._1 % epochs == k)
          .map(r => (r._1, T0, s"s${r._1 / 20}", r._2))
        docsIn.addData(docRows: _*)
        gateIn.addData(docRows: _*)
        bandIn.addData(docRows: _*)
        annIn.addData(annVecs.filter(_._1 % epochs == k.toLong)
          .map(r => (r._1, T0, r._2, r._3)): _*)
        ivfIn.addData(ivfVecs.filter(_._1 % epochs == k.toLong)
          .map(r => (r._1, T0, r._2, r._3)): _*)
        val t0 = System.nanoTime()
        qPost.processAllAvailable()
        qGate.processAllAvailable()
        qBand.processAllAvailable()
        qAnn.processAllAvailable()
        qIvf.processAllAvailable()
        val ingestS = (System.nanoTime() - t0) / 1e9
        fileSeen.keys.foreach(t =>
          fileSeen(t) = fileSeen(t) :+ Bucketing.dataFileCount(spark, t))
        val drained = Iterator.continually(lat.poll())
          .takeWhile(_ != null).toSeq
        def stat(fam: String): String = {
          val xs = drained.collect { case (f, s) if f == fam => s }.sorted
          if (xs.isEmpty) s"$fam n=0"
          else f"$fam n=${xs.size} min=${xs.min}%.2f med=${xs(xs.size / 2)}%.2f"
        }
        val rts = retries.entrySet().iterator()
        val rs = Iterator.continually(rts)
          .takeWhile(_.hasNext).map(_.next())
          .map(e => s"${e.getKey}=${e.getValue.get()}").mkString(",")
        println(f"[soak] epoch=${k + 1}%2d ingest=${ingestS}%5.2f " +
          s"${stat("post")} | ${stat("gpost")} | ${stat("band")} | " +
          s"${stat("ann")} | ${stat("ivf")} " +
          s"| retries{$rs} unexpected=${unexpected.get()} " +
          s"banding=${AnnIndex.recordedBanding(spark, "soak_ann")}")
      }
    } finally {
      running.set(false); prober.join(30000)
      qPost.stop(); qGate.stop(); qBand.stop(); qAnn.stop(); qIvf.stop()
    }

    // ---- hard verdicts ----------------------------------------------
    def fail(msg: String): Nothing =
      throw new IllegalStateException(s"SOAK FAILED: $msg")
    if (unexpected.get() != 0)
      fail(s"${unexpected.get()} unexpected probe failures")
    if (maintenanceEpoch >= 0 && !deletesRan)
      fail("the delete/reband maintenance leg never ran")
    val deletedDocs = if (deletesRan) condemnedDocIds.size else 0
    val (nDocs, _) = PostingsIndex.stats(spark, "soak_post")
    val wantDocs = docsAll.length - deletedDocs
    if (nDocs != wantDocs)
      fail(s"postings n_docs=$nDocs, streamed-minus-deleted=$wantDocs")
    // the gate's closed form: admissions = first instance of each
    // content fingerprint (the q126 oracle rule) — epoch order cannot
    // change the COUNT, only which doc_id carries it; the delete leg
    // subtracts exactly its measured intersection
    val wantGated = graft.Tables.documents(spark, dir)
      .select(graft.queries.Curation.bowFingerprint.as("fp"))
      .distinct().count() - deletedGated
    val (nGated, _) = PostingsIndex.stats(spark, "soak_gpost")
    if (nGated != wantGated)
      fail(s"gated postings n_docs=$nGated, " +
        s"distinct-fps-minus-deleted=$wantGated")
    spark.catalog.refreshTable("soak_band")
    val bandRows = spark.table("soak_band").count()
    val bandDocs = spark.table("soak_band")
      .select("doc_id").distinct().count()
    if (bandRows == 0 || bandDocs == 0 || bandDocs > docsAll.length)
      fail(s"band store malformed: rows=$bandRows admittedDocs=$bandDocs")
    spark.catalog.refreshTable("soak_ann")
    val banding = AnnIndex.recordedBanding(spark, "soak_ann")
    if (banding == ((4, 8))) fail("the adaptive reband never fired")
    val annRows = spark.table("soak_ann").count()
    val delAnn = if (deletesRan) condemnedAnnIds.size else 0
    val annWant = (baseN + annVecs.length - delAnn) * banding._1
    if (annRows != annWant)
      fail(s"ann store rows=$annRows, want $annWant (${banding._1} tables)")
    spark.catalog.refreshTable("soak_ivf")
    val ivfRows = spark.table("soak_ivf").count()
    val delIvf = if (deletesRan) condemnedIvfIds.size else 0
    val ivfWant = baseN + ivfVecs.length - delIvf
    if (ivfRows != ivfWant)
      fail(s"ivf store rows=$ivfRows, want $ivfWant")
    if (deletesRan &&
        BandIndex.recordedBanding(spark, "soak_band") != ((4, 16, 8)))
      fail("the band reband's recorded banding did not persist")
    if (fitProp() == fit0) fail("the skew refit never fired")
    val compacted = fileSeen.filter { case (_, xs) =>
      xs.zip(xs.drop(1)).exists { case (a, b) => b < a } }.keys.toSeq
    if (compacted.isEmpty) fail("no compaction trigger ever fired")
    if (recrawlEpoch >= 0 && !recrawlRan)
      fail("the re-crawl (reindex) leg never ran")
    // the scheduler's page as the closing surface: every soaked store
    // classifies with its family and post-maintenance identity
    val inv = StoreHealth.inventory(spark)
      .filter(col("table").startsWith("soak_"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getLong(7))).toMap
    inv.foreach { case (t, (f, rec, tp)) =>
      println(s"[soak] health: $t family=$f $rec tombstones_pending=$tp") }
    if (inv.keySet != Set("soak_post", "soak_gpost", "soak_band",
        "soak_ann", "soak_ivf"))
      fail(s"health inventory missed stores: ${inv.keySet}")
    if (deletesRan && inv("soak_band")._2 != "shingle=4 hashes=16 bands=8")
      fail(s"inventory banding diverges: ${inv("soak_band")._2}")
    if (inv("soak_post")._2 != s"n_docs=$nDocs sum_dl=" +
        PostingsIndex.stats(spark, "soak_post")._2)
      fail(s"inventory stats diverge: ${inv("soak_post")._2}")
    println(s"[soak] OK: rows exact on all five stores " +
      s"(post=$nDocs gated=$nGated bandDocs=$bandDocs ann=$annRows ivf=$ivfRows), " +
      s"reband->$banding, refit fired (${fit0.take(8)}->${fitProp().take(8)}), " +
      s"compacted=${compacted.sorted.mkString("+")}, " +
      s"retries=${retries}, unexpected=0")
    spark.stop()
  }
}
