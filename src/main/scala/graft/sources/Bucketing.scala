package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}
import org.apache.spark.sql.functions.{broadcast, col}

/** Bucketed-table layout for co-located joins: writing both sides of a
  * recurring equi-join bucketed by the join key lets every subsequent join
  * run shuffle-free (each bucket pair joins locally). This is THE layout
  * decision for a 100 TB fact⋈fact join that runs daily — pay one write,
  * skip the exchange on every read. Bucketing requires a saveAsTable
  * warehouse (bucket metadata lives in the catalog, not the files).
  *
  * It is also the physical layer under the four persisted index
  * families: catalog metadata and property reads/writes, the
  * bucket-aligned insert, the deferred-delete (tombstone) side-table and
  * the probe-literal size routing. Their shared lifecycle — the one
  * staged rewrite included — is [[StoreFamily]]. */
object Bucketing {

  /** Write `df` bucketed by `key` into the session catalog. Drops any
    * previous incarnation first: an in-memory catalog forgets tables
    * between sessions while their warehouse directories persist, and
    * saveAsTable refuses a "new" table whose location already exists.
    * The write is BUCKET-ALIGNED — repartitioned to numBuckets
    * partitions on the key (repartition's Murmur3 pmod IS the bucketing
    * hash) so every bucket's rows land in exactly one task and each
    * task emits exactly one bucket file: an unaligned bucketed write
    * fragments at tasks × buckets files from day one (measured 13× on
    * the round-18 stream-growth probe). One extra shuffle of `df`; the
    * bucket count is the parallelism lever at scale. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    dropTableAndDir(spark, table)
    df.repartition(buckets, df(key))
      .write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** DROP a table and clean its leftover warehouse directory: an
    * in-memory catalog forgets tables between sessions while their
    * warehouse directories persist, and saveAsTable refuses a "new"
    * table whose location already exists. */
  private def dropTableAndDir(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    val leftover = new java.io.File(
      new java.io.File(warehouse.getPath), table.toLowerCase).toPath
    if (java.nio.file.Files.exists(leftover)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(leftover).iterator.asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Join two bucketed tables on their bucket key — with matching bucket
    * counts Catalyst plans a SortMergeJoin with NO exchange on either
    * side. */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
      leftKey: String, rightKey: String): DataFrame =
    spark.table(left).join(spark.table(right),
      spark.table(left)(leftKey) === spark.table(right)(rightKey))

  /** Compact a bucketed table — the maintenance pass every append-heavy
    * bucketed layout eventually needs: each bucketed INSERT adds its own
    * file per touched bucket, so a long-lived index accumulates files
    * linear in the append count — the classic small-files pathology
    * (per-file open cost and task overhead on every probe, even pruned
    * ones). One [[StoreFamily.rewrite]] of the live rows: one file per
    * bucket, pending tombstones folded, every user property carried,
    * staged swap. Probes before and after are row-identical
    * (CompactionSpec) and append contracts keep holding. */
  def compact(spark: SparkSession, table: String): Unit =
    StoreFamily.rewrite(spark, table)(identity)

  /** DELETE rows whose `keyCol` appears in `ids` from any bucketed store —
    * [[StoreFamily.purge]] with no derived state: idempotent (absent or
    * already-deleted keys are a no-op, and a purge with nothing live to
    * remove pays no rewrite), otherwise one staged rewrite that also
    * folds the pending tombstones. */
  private[graft] def deleteByKey(spark: SparkSession, table: String,
      keyCol: String, ids: DataFrame): Unit =
    StoreFamily.purge(spark, table, keyCol, ids)

  // ---- Catalog metadata ------------------------------------------------

  private[sources] def metadata(spark: SparkSession,
      table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))

  /** The table's properties, read as catalog metadata — no SQL command
    * is parsed or executed. */
  private[sources] def props(spark: SparkSession,
      table: String): Map[String, String] =
    metadata(spark, table).properties

  /** Merge `props` into the table's properties: the ONE property writer
    * (identities, stats folds, batch markers, staged-swap carry-through).
    * The catalog entry is altered directly — values never become SQL
    * text, so any character in a user's property survives — and the
    * session's cached relation is invalidated, as ALTER TABLE … SET
    * TBLPROPERTIES does. */
  private[sources] def setProps(spark: SparkSession, table: String,
      props: Map[String, String]): Unit = {
    val cat = spark.sessionState.catalog
    val id = TableIdentifier(table)
    val t = cat.getTableRawMetadata(id)
    cat.alterTable(t.copy(properties = t.properties ++ props))
    cat.invalidateCachedTable(id)
  }

  /** User-level properties: everything outside Spark's own bookkeeping
    * namespaces (provider/bucket metadata rides the catalog entry, not
    * the property bag, but the in-memory catalog stows a few internals).
    * A rewrite carries exactly these through its swap. */
  private[sources] def userProps(
      props: Map[String, String]): Map[String, String] =
    props.filterNot { case (k, _) =>
      k.startsWith("spark.") || k.startsWith("transient_") ||
        k == "comment" || k == "owner"
    }

  private[sources] def bucketSpec(meta: CatalogTable): BucketSpec =
    meta.bucketSpec.getOrElse(throw new IllegalStateException(
      s"${meta.identifier.table} is not bucketed — not one of the " +
        "engine's index stores"))

  /** The bucket-aligned append every insert path shares: repartitioned
    * to numBuckets partitions on the bucket key (repartition's Murmur3
    * pmod IS the bucketing hash), so an append writes one file per
    * touched bucket instead of tasks × buckets — measured 841 files per
    * epoch vs ~110 aligned on the 20-epoch stream probe (SCALING.md
    * round 18). insertInto is POSITIONAL: `rows` must be in the table's
    * column order. */
  private[sources] def insertAligned(spark: SparkSession, table: String,
      rows: DataFrame): Unit = {
    val spec = bucketSpec(metadata(spark, table))
    rows.repartition(spec.numBuckets, col(spec.bucketColumnNames.head))
      .write.mode("append").insertInto(table)
  }

  // ---- Deferred (tombstone) deletes -----------------------------------
  //
  // The LSM answer to delete economics: an eager delete is a full-store
  // rewrite per purge batch — correct and honestly priced (compaction-
  // class), but the FREQUENT-delete deployment (a recurring decontam
  // sweep against a growing benchmark suite) pays O(store) for every
  // O(condemned) verdict set. A deferred delete appends the condemned
  // keys to a bucketed side-table `<table>__tombstones` in O(condemned);
  // probes subtract it as a BROADCAST anti-join (condemned sets are
  // verdict-scale by the sweep contract — bounded by true contamination
  // or duplication, never corpus-scale); and the physical purge rides
  // the maintenance the store already schedules (every full rewrite
  // folds the set and drops the side-table). The side-table's EXISTENCE
  // is the pending signal: it is created with its first condemned keys
  // and dropped at every fold, so the probe hot path pays one
  // driver-side catalog lookup when there is nothing pending — never a
  // count job.

  private[graft] def tombTableOf(table: String): String =
    s"${table}__tombstones"

  /** The pending tombstone keys of `table` (one column, the store's
    * delete key), or None when nothing is pending. Existence ⇒ nonempty:
    * the side-table is only ever written WITH rows and is dropped whole
    * at each fold. */
  private[graft] def pendingTombstones(spark: SparkSession,
      table: String): Option[DataFrame] = {
    val t = tombTableOf(table)
    if (spark.sessionState.catalog.tableExists(TableIdentifier(t))) {
      // read-your-committed-deletes: another session's deferred delete
      // appends to the side-table without invalidating THIS session's
      // cached listing (the probe refresh rule, applied to the one
      // table whose staleness would re-serve a deleted document)
      spark.catalog.refreshTable(t)
      Some(spark.table(t))
    } else None
  }

  /** Append `ids` to the table's tombstone set — O(condemned), never a
    * store rewrite. `ids` must already be restricted to distinct keys
    * the store still serves ([[StoreFamily.deleteDeferred]] derives them
    * from its doomed-slice read) — this keeps the side-table's size
    * bounded by live condemnations, not by how many times a sweep
    * re-feeds its verdicts. Bucketed by the key at ONE bucket: the set
    * is verdict-scale by contract and is consumed whole as a broadcast
    * side, so more buckets would only fragment files. */
  private[graft] def tombstone(spark: SparkSession, table: String,
      keyCol: String, ids: DataFrame): Unit = {
    val frame = ids.select(ids(ids.columns.head).as(keyCol))
    if (pendingTombstones(spark, table).isDefined)
      insertAligned(spark, tombTableOf(table), frame)
    else
      writeBucketed(frame, tombTableOf(table), keyCol, buckets = 1)
  }

  private[graft] def clearTombstones(spark: SparkSession,
      table: String): Unit =
    dropTableAndDir(spark, tombTableOf(table))

  /** The store's LIVE rows: everything minus the pending tombstones —
    * the frame every rewrite and every doomed-slice read consumes. With
    * nothing pending this IS `spark.table(table)`. */
  private[graft] def liveRows(spark: SparkSession, table: String,
      keyCol: String): DataFrame =
    subtractTombstones(spark, table, keyCol, spark.table(table))

  /** The ONE deferred-delete subtraction, on any store-side frame:
    * pending tombstones anti-join it as a BROADCAST (verdict-scale by
    * contract — and explicit, so a caller that disables auto-broadcast
    * for its own join shaping cannot shuffle the store against them),
    * ABOVE whatever pruning filter the frame carries, so the bucket
    * pruning stays on the scan node and the plan is unchanged when
    * nothing is pending (same object back). Column order re-selected:
    * a USING join fronts the key, and positional inserts into a table
    * rewritten from such a frame would break or silently corrupt. */
  private[sources] def subtractTombstones(spark: SparkSession,
      table: String, keyCol: String, frame: DataFrame): DataFrame =
    pendingTombstones(spark, table) match {
      case Some(tomb) =>
        val cols = frame.columns
        frame.join(broadcast(tomb), Seq(keyCol), "left_anti")
          .select(cols.head, cols.tail: _*)
      case None => frame
    }

  // ---- Probe literals ---------------------------------------------------

  /** Shared size-routing limit for probe literals over bucketed stores:
    * at or under this many distinct key values a probe ships them as
    * the bucket-pruning `isin` literal; past it the probe restricts by
    * a broadcast semi-join (or scans whole where the join itself is the
    * rendezvous). MEASURED, not guessed (SCALING.md round 18): a
    * 2,000-element string `In` costs ~0.6 s of planning/codegen per
    * plan occurrence while the scan it prunes costs 0.1–0.2 s, and past
    * a few hundred values the literal hits nearly every bucket anyway —
    * pruning pays exactly for point-query-scale key sets. */
  private[sources] val PruneLiteralLimit = 256

  /** `keys` (one column of DISTINCT values) as a pruning literal, or
    * None past [[PruneLiteralLimit]]. ONE job decides the route AND
    * fetches the literal: a limit+1 sample exceeds the limit exactly
    * when the count does, and under it the sample IS the whole set
    * (driver payload capped at limit+1 values either way). */
  private[sources] def pruneLiterals(keys: DataFrame): Option[Seq[Any]] = {
    val sample = keys.limit(PruneLiteralLimit + 1).collect()
    if (sample.length <= PruneLiteralLimit) Some(sample.map(_.get(0)).toSeq)
    else None
  }

  /** `table` restricted to `literals` of `key` — the bucket-pruning
    * `isin` (`SelectedBucketsCount` in the scan) — or, with no literal,
    * to whatever `wide` narrows it to (the whole table by default). */
  private[sources] def restrict(spark: SparkSession, table: String,
      key: String, literals: Option[Seq[Any]],
      wide: DataFrame => DataFrame = identity): DataFrame = {
    val t = spark.table(table)
    literals.fold(wide(t))(ls => t.filter(col(key).isin(ls: _*)))
  }

  // ---- Streaming batch marker -------------------------------------------

  private[sources] val LastBatchProp = "graft.ingest.last_batch"

  /** The table's idempotence marker: the id of the last micro-batch a
    * streaming index loop committed into it, or -1 if none was ever
    * recorded. Structured Streaming's exactly-once covers sources and
    * state, NOT arbitrary external writes — after a sink-side failure
    * foreachBatch re-delivers the same batch under the SAME batchId, so
    * the standard recipe (Spark's own foreachBatch doc) is to record the
    * committed id transactionally with the write and skip re-deliveries
    * at or under it. Here "transactionally" is approximated the same way
    * the stats fold is: the marker is a table property written right
    * after the insert (PostingsIndex folds it into the SAME property
    * write as its stats), so the residual window is a crash BETWEEN the
    * insert and the property write — replaying that batch
    * double-appends, exactly the window the append scaladocs already
    * name, now shrunk from "any retry" to "retry of a mid-append crash".
    *
    * Scope contract: batchIds are monotone within ONE streaming query
    * lineage (a checkpoint and its restarts). The marker therefore
    * assumes the single writer growing this table keeps its checkpoint
    * across restarts — the same single-writer rule every append path
    * states. Starting a FRESH stream (new checkpoint, batchIds restart
    * at 0) over an existing table requires [[resetBatchMarker]] first,
    * or every batch up to the old high-water mark silently skips. */
  def lastCommittedBatch(spark: SparkSession, table: String): Long =
    props(spark, table).get(LastBatchProp).map(_.toLong).getOrElse(-1L)

  /** Record `batchId` as the table's committed high-water mark — called
    * by the streaming index loops after a batch's appends land. Survives
    * [[compact]] (the user-property carry-through). */
  def recordBatch(spark: SparkSession, table: String, batchId: Long): Unit =
    setProps(spark, table, Map(LastBatchProp -> batchId.toString))

  /** Reset the marker for a NEW stream lineage over an existing table
    * (fresh checkpoint ⇒ batchIds restart at 0 — see
    * [[lastCommittedBatch]]'s scope contract). */
  def resetBatchMarker(spark: SparkSession, table: String): Unit =
    recordBatch(spark, table, -1L)

  /** Data-file count of a catalog table — the small-files health metric
    * the streaming ingest loop's compaction trigger reads between
    * batches (CurationChain.curatedIndexed). Driver-side listing, no
    * Spark job (the listingSignature rule). */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val dir = java.nio.file.Paths.get(metadata(spark, table).location)
    if (!java.nio.file.Files.exists(dir)) 0
    else scala.util.Using.resource(java.nio.file.Files.walk(dir)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator.asScala.count(p => p.toString.endsWith(".parquet"))
    }
  }
}
