package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{BandIndex, Bucketing}

/** The recurring-crawl evidence for q149's operating claim: the
  * persisted band store carries banding work ACROSS crawls, so crawl
  * B's composite pays only the delta (append the new survivors,
  * tombstone the new drops, revive re-qualifiers) plus the sweep —
  * never a re-band of the whole survivor corpus — while its accounting
  * stays EQUAL to the full recompute replay over the union corpus (the
  * one oracle both spellings answer to). Plus the no-op case the
  * registered row now exploits: a reconcile against an unchanged corpus
  * writes nothing, so re-running q149 costs the sweep alone. */
class TwoCrawlSpec extends SparkSpec {

  private def docs = graft.Tables.documents(spark, sfDir)

  private def acct(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("stage_ord").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq

  test("two crawls, one persisted store: crawl B reconciles the store " +
      "(delta-only writes) and its accounting equals the recompute replay " +
      "over the union corpus; a third run over the unchanged corpus " +
      "writes nothing") {
    // crawl A: the first 300 doc_ids (sealed-slice members included —
    // the gate needs its % 10 == 7 population)
    val dirA = java.nio.file.Files.createTempDirectory("crawla").toString
    docs.filter(col("doc_id") < 300).coalesce(1)
      .write.mode("overwrite").parquet(s"$dirA/documents.parquet")
    val store = "twocrawl_store"
    spark.sql(s"DROP TABLE IF EXISTS $store")
    Bucketing.clearTombstones(spark, store)

    // crawl A's composite builds the store over A's admitted set
    val acctA = acct(CurationPipeline.accounting(spark, dirA,
      bandStore = Some(store)))
    val wantA = acct(CurationPipeline.accounting(spark, dirA))
    assert(acctA == wantA, "crawl A's indexed accounting diverges from " +
      "the recompute replay over crawl A")
    val idsAfterA = spark.table(store).select("doc_id").distinct().count()

    // crawl B arrives: the union corpus (sfDir holds A ∪ B). The SAME
    // store reconciles — only B's new survivors band; A's docs that
    // fall to the union's recalibrated gates tombstone out.
    val acctB = acct(CurationPipeline.accounting(spark, sfDir,
      bandStore = Some(store)))
    val wantB = acct(CurationPipeline.accounting(spark, sfDir))
    assert(acctB == wantB, "crawl B's indexed accounting over the " +
      "persisted store diverges from the recompute replay over the union")
    val idsAfterB = Bucketing.liveRows(spark, store, "doc_id")
      .select("doc_id").distinct().count()
    assert(idsAfterB > idsAfterA,
      "crawl B must have appended its new survivors to the store")

    // third run, unchanged corpus: the reconcile is a NO-OP — no new
    // data files, same accounting (the sweep-only cost the registered
    // row's passes 2+ pay)
    val files = Bucketing.dataFileCount(spark, store)
    val acctB2 = acct(CurationPipeline.accounting(spark, sfDir,
      bandStore = Some(store)))
    assert(acctB2 == wantB)
    assert(Bucketing.dataFileCount(spark, store) == files,
      "a reconcile against an unchanged corpus must write nothing")
  }

  test("the registered q149 row: the second invocation in a session " +
      "serves from the persisted listing-keyed store (no rebuild, same " +
      "rows — the oracle hash is invocation-independent)") {
    val q = graft.SparkEntry.queries("q149_curation_pipeline_indexed")
    val r1 = acct(q(spark, sfDir))
    val q124 = graft.SparkEntry.queries("q124_curation_pipeline")
    assert(r1 == acct(q124(spark, sfDir)),
      "the registered q149 row must equal the registered q124 row")
    val tables = spark.sql("SHOW TABLES").collect().map(_.getString(1))
      .filter(_.startsWith("bands_q149_"))
    assert(tables.nonEmpty, "q149 must build its listing-keyed store")
    val files = tables.map(t => Bucketing.dataFileCount(spark, t)).sum
    val r2 = acct(q(spark, sfDir))
    assert(r1 == r2, "q149's rows must not depend on the invocation count")
    assert(tables.map(t => Bucketing.dataFileCount(spark, t)).sum == files,
      "the second q149 invocation must reconcile no-op, not rebuild")
  }

  test("a revival reconciles correctly: a doc dropped by crawl A's " +
      "calibration re-qualifies under crawl B's population and the store " +
      "serves it again (the reindex tier)") {
    import spark.implicits._
    // synthetic store exercising reconcile's three tiers directly
    val mk = (id: Long, t: String) => (id, t)
    val a = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta"),
      mk(2L, "one two three four five six seven"),
      mk(3L, "red green blue yellow purple orange")).toDF("doc_id", "text")
    BandIndex.buildDocs(spark, "twocrawl_rev", a)
    // crawl A drops doc 3 (tombstoned), keeps 1-2
    BandIndex.deleteDeferred(spark, "twocrawl_rev", Seq(3L).toDF("doc_id"))
    // crawl B: doc 3 re-qualifies (same text), doc 2 drops, doc 4 arrives
    val keepB = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta"),
      mk(3L, "red green blue yellow purple orange"),
      mk(4L, "new crawl arrival tokens here indeed")).toDF("doc_id", "text")
    BandIndex.reconcile(spark, "twocrawl_rev", keepB)
    // twin: fresh build over exactly crawl B's keep set
    BandIndex.buildDocs(spark, "twocrawl_rev_twin", keepB)
    def rows(t: String) = {
      val live = Bucketing.liveRows(spark, t, "doc_id")
      live.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .toSet
    }
    assert(rows("twocrawl_rev") == rows("twocrawl_rev_twin"),
      "reconcile with a revival diverges from the fresh build over the keep set")
    // the revival's rewrite folded every tombstone physically
    assert(Bucketing.pendingTombstones(spark, "twocrawl_rev").isEmpty,
      "the reindex tier must fold the pending tombstones")
  }
}
