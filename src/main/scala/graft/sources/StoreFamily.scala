package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeProjection}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, element_at, explode,
  map_contains_key, row_number}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** What distinguishes one persisted index family from another — and
  * nothing else. The four families (postings, ANN, IVF, MinHash bands)
  * share one lifecycle, implemented once in the companion object against
  * this descriptor: the identity guard, eager and deferred delete,
  * reindex, the one staged full rewrite, the one probe shape (query side
  * on the driver, tombstone-subtracted pruned scan, literal fan-out,
  * rank), the mid-probe identity check and the build-once memo.
  *
  * @param owner      the family object, named in every guard message
  * @param deleteKey  the row-identity column deletes and reindexes key on
  * @param bucketKey  the bucket column probes prune on
  * @param identity   recorded properties every store of the family
  *                   carries (banding, fit, collection stats); a table
  *                   lacking any of them was not built by `owner`
  * @param corpus     the corpus table a dir-derived build reads
  * @param label      the inventory's family name for a store's properties
  * @param companions companion tables that live and refresh with a store
  * @param check      further identity checks past the recorded
  *                   properties (IVF: the centroid companion's fit)
  * @param derived    derived state kept beside the rows (postings: the
  *                   df companion and (n_docs, sum_dl)) — see [[Fold]] */
private[sources] final case class StoreFamily(
    owner: String,
    deleteKey: String,
    bucketKey: String,
    identity: Seq[String],
    corpus: String,
    label: Map[String, String] => String,
    companions: String => Seq[String] = _ => Nil,
    check: (SparkSession, String, Map[String, String]) => Unit =
      (_, _, _) => (),
    derived: Option[StoreFamily.Fold] = None) {

  /** A tuple of values as the identity properties they are recorded
    * under, in order. */
  def identityOf(values: Product): Map[String, String] =
    identity.zip(values.productIterator.map(_.toString)).toMap
}

private[sources] object StoreFamily {

  /** A family's derived-state hook: given the live rows a verb is about
    * to remove (materialized — the hook reads them after they are gone)
    * and the rows it is about to add, measure now and return the fold to
    * apply once the rows have changed; None when there is nothing to
    * fold (nothing removed or added). */
  type Fold = (SparkSession, String, DataFrame, Option[DataFrame]) =>
    Option[() => Unit]

  lazy val All: Seq[StoreFamily] = Seq(PostingsIndex.Family,
    AnnIndex.Family, BandIndex.Family, IvfIndex.Family)

  /** The family a catalog table belongs to: it carries the family's
    * identity properties AND is bucketed by the family's bucket key (so
    * companions — the IVF centroid table carries the fit too — never
    * classify as stores of their own). */
  def of(meta: CatalogTable): Option[StoreFamily] =
    All.find(f => f.identity.forall(meta.properties.contains) &&
      meta.bucketSpec.exists(_.bucketColumnNames == Seq(f.bucketKey)))

  /** Read-your-committed-writes: a writer in another session (the
    * streaming ingestion path's cloned micro-batch session) cannot
    * invalidate THIS session's cached file listing, so every verb and
    * every rewrite refreshes the table — and its family's companions —
    * before it reads. */
  private def refresh(spark: SparkSession, table: String): CatalogTable = {
    spark.catalog.refreshTable(table)
    val meta = Bucketing.metadata(spark, table)
    of(meta).foreach(_.companions(table)
      .filter(spark.catalog.tableExists).foreach(spark.catalog.refreshTable))
    meta
  }

  /** The store's recorded properties, identity-checked (no refresh):
    * a table lacking any of `f`'s identity properties was not built by
    * the family, and serving it would be a silent wrong result — refuse
    * with the family's name. */
  def recorded(f: StoreFamily, spark: SparkSession,
      table: String): Map[String, String] = {
    val p = Bucketing.props(spark, table)
    if (!f.identity.forall(p.contains))
      throw new IllegalStateException(s"$table carries no " +
        s"${f.identity.mkString("/")} properties — not built by ${f.owner}")
    p
  }

  /** The guard every verb runs FIRST: refresh, identity, the family's
    * own checks. Returns the recorded properties. */
  def open(f: StoreFamily, spark: SparkSession,
      table: String): Map[String, String] = {
    refresh(spark, table)
    val p = recorded(f, spark, table)
    f.check(spark, table, p)
    p
  }

  /** Suffix of a rewrite's staging table. */
  val Staging = "__compact"

  /** The ONE full-store rewrite — compaction, delete, reindex, reband,
    * refit and the SQ rebuild all land through it. It refreshes the table
    * and its companions, snapshots `rows` of the LIVE rows (pending
    * tombstones folded — the one invariant that keeps the eager and
    * deferred verbs composable), re-selects the table's column order
    * (positional appends rely on it), and swaps the snapshot in STAGED:
    * written bucket-aligned to `<table>__compact`, every user property
    * carried (plus `props`, e.g. a new banding or fit) set there, then
    * DROP old + RENAME staging — two catalog metadata operations, the
    * only reader-visible window (a concurrent probe gets
    * table-not-found; single-writer, probes-may-retry by contract).
    * The snapshot is eagerly checkpointed BEFORE the staging write: a
    * rename-swap cannot re-read lazily through the dropped name.
    * `key` is the delete key the tombstones subtract on (default: the
    * family's, else the bucket key). Crash recovery, stated: a failure
    * before the DROP leaves the original untouched (the staging table is
    * garbage to clean); a crash between DROP and RENAME leaves the
    * fully-built staging table intact — re-run the rename. Tombstones
    * clear AFTER the swap: a crash in between leaves tombstones naming
    * purged keys, a no-op anti-join until the next rewrite. */
  def rewrite(spark: SparkSession, table: String, key: Option[String] = None,
      props: Map[String, String] = Map.empty)(
      rows: DataFrame => DataFrame): Unit = {
    val meta = refresh(spark, table)
    val spec = Bucketing.bucketSpec(meta)
    val k = key.orElse(of(meta).map(_.deleteKey))
      .getOrElse(spec.bucketColumnNames.head)
    val cols = spark.table(table).columns.toSeq.map(col)
    val snapshot = rows(Bucketing.liveRows(spark, table, k))
      .select(cols: _*).localCheckpoint(true)
    val staging = table + Staging
    Bucketing.writeBucketed(snapshot, staging, spec.bucketColumnNames.head,
      spec.numBuckets)
    Bucketing.setProps(spark, staging,
      Bucketing.userProps(meta.properties) ++ props)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    Bucketing.clearTombstones(spark, table)
  }

  /** The live rows `ids` (any one-column frame) condemn, with the fold
    * their removal owes — None when none is live, which is what makes
    * every delete verb IDEMPOTENT: a sweep re-feeds its whole condemned
    * set without tracking what a previous run removed, and a deferred
    * delete followed by an eager re-feed never folds twice. A family
    * without derived state gets its distinct live keys (one existence
    * check); one with derived state gets the materialized doomed rows
    * measured by its fold. Returned: the distinct live keys. */
  private def condemned(spark: SparkSession, table: String, key: String,
      ids: DataFrame,
      derived: Option[Fold]): Option[(DataFrame, () => Unit)] = {
    val doomed = Bucketing.liveRows(spark, table, key).join(
      ids.select(ids(ids.columns.head)
        .cast(spark.table(table).schema(key).dataType).as(key)),
      Seq(key), "left_semi")
    derived match {
      case Some(fold) =>
        val rows = doomed.localCheckpoint(true)
        fold(spark, table, rows, None).map(rows.select(key).distinct() -> _)
      case None =>
        val keys = doomed.select(key).distinct().localCheckpoint(true)
        Option.when(!keys.isEmpty)(keys -> (() => ()))
    }
  }

  /** The eager purge: condemned live keys anti-join out in one
    * [[rewrite]], then the derived-state fold. Order keeps the crash
    * window benign: past the swap no deleted row is served; a crash
    * before the fold leaves derived state overstated, never inverted. */
  private[sources] def purge(spark: SparkSession, table: String, key: String,
      ids: DataFrame, derived: Option[Fold] = None): Unit =
    condemned(spark, table, key, ids, derived).foreach { case (keys, fold) =>
      rewrite(spark, table, Some(key))(_.join(keys, Seq(key), "left_anti"))
      fold()
    }

  /** DELETE — the retroactive-removal verb of every family: the sweeps
    * name contaminated docs or near-dup losers, the ingest gate can only
    * refuse NEW arrivals. Compaction-class (one full [[rewrite]] per purge
    * batch — deployments batch deletes on the compaction cadence);
    * idempotent; probes after equal a store rebuilt over the survivors
    * (DeleteSpec). */
  def delete(f: StoreFamily, spark: SparkSession, table: String,
      ids: DataFrame): Unit = {
    open(f, spark, table)
    purge(spark, table, f.deleteKey, ids, f.derived)
  }

  /** DEFERRED delete — O(condemned): the live condemned keys append to
    * the tombstone side-table ([[Bucketing.tombstone]]), every probe
    * subtracts them, and the derived state folds exactly as the eager
    * verb's does — probes are bit-equal to the eager verb's (DeleteSpec)
    * while the physical purge rides the next [[rewrite]]. The tombstone
    * append is the commit point. Idempotent like [[delete]]. */
  def deleteDeferred(f: StoreFamily, spark: SparkSession, table: String,
      ids: DataFrame): Unit = {
    open(f, spark, table)
    condemned(spark, table, f.deleteKey, ids, f.derived).foreach {
      case (keys, fold) =>
        Bucketing.tombstone(spark, table, f.deleteKey, keys)
        fold()
    }
  }

  /** UPSERT / re-crawl — the SAME keys arrive with changed content, which
    * every append path's disjoint-ids contract excludes, and a
    * caller-composed delete+append pays two rewrites with a
    * neither-version window. One [[rewrite]] instead: live rows for
    * `keys` drop, `rows` land, pending tombstones fold (a re-crawled key
    * that was tombstoned is alive again). `keys` are the BATCH's keys,
    * not the new rows' — a re-crawled doc that now yields no rows must
    * still lose its old ones. The caller has run [[open]] (its rows are
    * built at the recorded identity) and materialized `rows` if they
    * feed a fold. Probes after equal a fresh build over the updated
    * corpus (ReindexSpec). */
  def reindex(f: StoreFamily, spark: SparkSession, table: String,
      keys: DataFrame, rows: DataFrame): Unit = {
    val k = f.deleteKey
    require(keys.groupBy(k).count().filter(col("count") > 1).isEmpty,
      s"reindex batch carries duplicate ${k}s — one row per key is the " +
        "re-crawl contract (dedupe the batch first)")
    val fold = f.derived.flatMap(_(spark, table,
      Bucketing.liveRows(spark, table, k).join(keys, Seq(k), "left_semi")
        .localCheckpoint(true), Some(rows)))
    rewrite(spark, table, Some(k))(
      _.join(keys, Seq(k), "left_anti").unionByName(rows))
    fold.foreach(_())
  }

  /** The rows of a handed source `corpus` whose keys the store holds
    * live — what a rewrite re-derived from the source (band reband, SQ
    * rebuild) re-signs: membership is the store's truth, so deleted keys
    * stay deleted. A store key the corpus LACKS fails loudly: the swap
    * would silently delete it. (The anti-join names the hazard directly;
    * a count difference would let a duplicate cancel a missing key.) */
  def liveMembers(f: StoreFamily, spark: SparkSession, table: String,
      corpus: DataFrame): DataFrame = {
    val k = f.deleteKey
    val ids = Bucketing.liveRows(spark, table, k).select(k).distinct()
      .localCheckpoint(true)
    val missing = ids.join(corpus.select(k), Seq(k), "left_anti").count()
    require(missing == 0L,
      s"$table holds $missing ${k}s the handed corpus lacks — a rewrite " +
        "over this corpus would silently delete them; hand the full source " +
        "corpus (or delete the ids first if removal is intended)")
    corpus.join(ids, Seq(k), "left_semi")
  }

  // ---- Point probes ------------------------------------------------------
  //
  // Every family's probe has one shape: the query side (query-scale by
  // contract) collects to the driver once — a projection over a
  // LocalRelation runs no job — and becomes plan literals ([[fanOut]]);
  // the store side is one plan, pruned scan → literal fan-out → score →
  // rank ([[pointScan]], [[pointRank]]), with no localCheckpoint, no
  // mid-probe collect and no broadcast of query rows.

  /** The literal fan-out of a probe: `entries` (key, query entry)
    * grouped into one typed map literal `key → array<entry>`, held in
    * Spark's unsafe (binary) layout so the exploded entries read like
    * scanned rows — a generic literal would box every array element.
    * Duplicate entries stay duplicated, as a join against the query rows
    * would keep them. `probed` keys are read without an entry (their
    * rows fan out to nothing). */
  def fanOut(keyType: DataType, entry: StructType,
      entries: Seq[(Any, Row)], probed: Seq[Any] = Nil): FanOut = {
    val m = entries.groupMap(_._1)(_._2)
    val t = MapType(keyType, ArrayType(entry, false), false)
    val unsafe = UnsafeProjection.create(Array[DataType](t))
      .apply(InternalRow(CatalystTypeConverters.createToCatalystConverter(t)(m)))
      .getMap(0).copy()
    FanOut((probed ++ m.keys).distinct, DatasetBridge.column(Literal(unsafe, t)),
      entries.size)
  }

  /** A probe's driver-side literals: the keys it reads, the
    * `key → array<entry>` map over them, and the entry count. */
  final case class FanOut(keys: Seq[Any], map: Column, size: Int) {

    /** Whether the probe is point-sized: at most
      * [[Bucketing.PruneLiteralLimit]] query entries. */
    def point: Boolean = size <= Bucketing.PruneLiteralLimit

    /** `frame` read where `key` is one of the keys — as the
      * bucket-pruning `isin` literal (`SelectedBucketsCount` in the scan)
      * up to [[Bucketing.PruneLiteralLimit]] keys, whole past it: the
      * limit is the `isin`'s measured planning budget, and [[spread]]'s
      * map lookup restricts the rows either way. */
    def prune(frame: DataFrame, key: String): DataFrame =
      if (keys.size <= Bucketing.PruneLiteralLimit)
        frame.filter(col(key).isin(keys: _*))
      else frame

    /** `frame`, each row repeated once per query entry its `key` fans
      * out to — the entry as struct column `q`; rows of keys with no
      * entry drop out. The lookup is a linear search of the keys per row
      * — what a read past the pruning limit pays on every row. */
    def spread(frame: DataFrame, key: String): DataFrame =
      frame.withColumn("q", explode(element_at(map, col(key))))

    /** Whether `key` has an entry — [[spread]]'s restriction without the
      * fan-out. */
    def holds(key: String): Column = map_contains_key(map, col(key))

    /** `frame` gathered for the probe's per-`key` tail (pair aggregate,
      * rank window). A point-sized probe runs it in ONE partition with no
      * exchange: its read is query-scale, and a hash exchange's extra job
      * and stage cost more than a parallel tail saves (SCALING.md, "Point
      * probes as one plan"). A larger one hash-partitions by `key` — one
      * exchange serving the aggregate and the window alike, the explicit
      * count pinning it against AQE's byte-based coalescing: q134's 50
      * queries fan out to ~250k (query, doc) pairs at sf0.1, 9.0 s in one
      * task, 5.8 s over four (4-core VM). */
    def gather(frame: DataFrame, key: String = "query_id"): DataFrame =
      if (point) frame.coalesce(1)
      else frame.repartition(frame.sparkSession.sparkContext.defaultParallelism,
        col(key))
  }

  /** The store side of a probe: the live rows of the keys `fan` names
    * (`SelectedBucketsCount` in the scan; pending tombstones subtracted
    * ABOVE the pruning, so it stays on the scan node), each repeated
    * once per query entry its key fans out to ([[FanOut.spread]]).
    * Spark's DisableUnnecessaryBucketedScan keeps a bucketed (pruned)
    * scan only below an operator that asks for a distribution — an
    * aggregate or window with no exchange in between; every probe plan
    * has one (the rank window, band's candidate distinct). */
  def pointScan(f: StoreFamily, spark: SparkSession, table: String,
      fan: FanOut): DataFrame =
    fan.spread(Bucketing.subtractTombstones(spark, table, f.deleteKey,
      fan.prune(spark.table(table), f.bucketKey)), f.bucketKey)

  /** The top `k` rows per query_id under `order` of `scored` (already
    * [[FanOut.gather]]ed), numbered `rank` and sorted by (query_id,
    * rank) — a point-sized probe's one partition locally, with no range
    * exchange. */
  def pointRank(scored: DataFrame, fan: FanOut, k: Int,
      order: Column*): DataFrame = {
    val top = scored
      .withColumn("rank",
        row_number().over(Window.partitionBy("query_id").orderBy(order: _*)))
      .filter(col("rank") <= k)
    if (fan.point) top.sortWithinPartitions("query_id", "rank")
    else top.orderBy("query_id", "rank")
  }

  /** The mid-probe identity check: a probe reads the recorded banding,
    * spends jobs signing its query side, then scans — a reband swap
    * landing in between makes the old-banding signatures collide with
    * NOTHING, a silently-EMPTY result where the family promises
    * loud-retry. Re-read the banding after the store scan executed and
    * refuse a change. The rows and the banding swap together in one
    * table, so equal reads before and after mean the scan saw a store
    * consistent with the probed signatures. The residual window — a
    * reband after this check, before a lazy scan runs — fails loud by
    * itself: the swap's DROP deletes the files a stale listing names. */
  def requireStable[A](table: String, before: A, now: A): Unit =
    if (now != before)
      throw new IllegalStateException(
        s"$table was rebanded mid-probe ($before -> $now) — the query side " +
          "signed at the old banding and its collisions are void; retry " +
          "the probe (sign at the new recorded banding)")

  /** The build-once memo for dir-derived stores: the first call for a
    * key builds, later calls return the table name for free. Keyed on
    * the corpus listing signature, so an in-process corpus rewrite
    * rebuilds instead of serving a stale store, with every
    * layout-shaping parameter — and a fingerprint of the corpus
    * predicate's structural rendering (Column#toString) — folded into
    * the key AND the table name ([[IndexMemo]]): two callers reusing a
    * tag with different parameters or predicates never share a store. */
  def ensureFor(f: StoreFamily, kind: String, tag: String, dir: String,
      params: Seq[Any], pred: Option[Column] = None)(
      build: String => Unit): String =
    IndexMemo.ensure(
      (Seq(kind, tag) ++ pred.map(p => md5(p.toString).take(8)) ++
        (dir +: params)).mkString("|"),
      graft.Tables.listingSignature(dir, f.corpus), s"${kind}_$tag")(build)

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
