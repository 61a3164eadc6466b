package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The store HEALTH INVENTORY — the one page a deployment's maintenance
  * scheduler reads before choosing what to run: every persisted index
  * store in the warehouse, classified by family from its recorded
  * properties (the same properties the probes' identity guards read),
  * with the signals each maintenance verb keys on:
  *   - `data_files` vs `buckets`: files-per-bucket > 1 accumulates with
  *     appends — the [[Bucketing.compact]] trigger (the small-files
  *     pathology the streaming loop's auto-compaction watches);
  *   - `tombstones_pending`: deferred deletes awaiting their physical
  *     fold — nonzero means probes are paying the anti-join and the
  *     next compact is carrying a purge;
  *   - `recorded`: the banding/fit/stats identity — what a reband /
  *     refit / rebuildSq decision compares against the corpus's current
  *     shape ([[graft.queries.Similarity.adaptiveBanding]], the SQ
  *     drift advisor);
  *   - `last_batch`: the streaming loop's idempotence high-water mark.
  *
  * Catalog-metadata discipline: everything comes from table properties,
  * bucket specs, and driver-side file listings — NO Spark job over store
  * rows, so the inventory is safe to poll between micro-batches. The one
  * exception is `tombstones_pending`, a count over the tombstone
  * side-table — verdict-scale by the deferred-delete contract, and read
  * only when the side-table exists. Families, their recorded identity
  * and their companions come from the [[StoreFamily]] descriptors:
  * companion tables (`_df`, `_cent`), tombstone side-tables and
  * `__compact` staging tables fold into their parent's row rather than
  * listing as stores of their own. */
object StoreHealth {

  final case class StoreRow(
      table: String,
      family: String,
      recorded: String,
      buckets: Int,
      data_files: Int,
      companion_files: Int,
      last_batch: Long,
      tombstones_pending: Long,
      advisories_pending: Int)

  /** One row per persisted store in the session catalog's default
    * database. Tables without a graft family identity (a user's own
    * bucketed tables, the curation sealed stores' plain layouts) are
    * not this inventory's business and are skipped. */
  def inventory(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cat = spark.sessionState.catalog
    val rows = cat.listTables("default").map(_.table)
      .filterNot(_.endsWith(StoreFamily.Staging))
      .flatMap { t =>
        // listTables includes TEMP VIEWS (no catalog metadata) and races
        // with concurrent drops (the inventory polls between batches by
        // design) — skip anything without persistent metadata instead of
        // letting one vanished name fail the whole page
        val ident = org.apache.spark.sql.catalyst.TableIdentifier(t)
        if (!cat.tableExists(ident)) None
        else scala.util.Try(cat.getTableMetadata(ident)).toOption
      }
      .flatMap { meta =>
        val t = meta.identifier.table
        val p = meta.properties
        StoreFamily.of(meta).map { f =>
          StoreRow(t, f.label(p),
            f.identity.map(k => s"${k.split('.').last}=${p(k)}").mkString(" "),
            meta.bucketSpec.map(_.numBuckets).getOrElse(-1),
            Bucketing.dataFileCount(spark, t),
            f.companions(t).filter(spark.catalog.tableExists)
              .map(Bucketing.dataFileCount(spark, _)).sum,
            p.get(Bucketing.LastBatchProp).map(_.toLong).getOrElse(-1L),
            Bucketing.pendingTombstones(spark, t)
              .map(_.count()).getOrElse(0L),
            // the drift advisor's backlog rides along — JVM state, not
            // catalog state, but the page exists FOR the scheduler and
            // "this SQ store needs a rebuildSq" is exactly what it acts
            // on (drain via SqDriftAdvisor.drain once scheduled)
            graft.streaming.SqDriftAdvisor.advised(t).size)
        }
      }
    rows.toDF()
      .select("table", "family", "recorded", "buckets", "data_files",
        "companion_files", "last_batch", "tombstones_pending",
        "advisories_pending")
  }
}
