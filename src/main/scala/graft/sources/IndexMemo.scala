package graft.sources

/** Shared build-once machinery for the dir-derived persisted indexes
  * (AnnIndex / PostingsIndex ensureFor): first call for a key builds,
  * later calls return the table name for free; a changed corpus
  * listing signature rebuilds in place. The key — and therefore the
  * TABLE NAME, which hashes the key — carries every parameter that
  * shapes the physical index (banding, bucket count, the caller's
  * corpus tag AND predicate fingerprint) so a caller asking for a
  * different layout can never be handed a memo hit built at another
  * one: it resolves to a different table and builds it (the silent
  * never-collide hazard the append-side banding require() closes,
  * closed on the ensure path by construction).
  *
  * Concurrency shape: the map holds PROMISES, not results, and the
  * multi-second Spark build runs OUTSIDE any map lock — `putIfAbsent`
  * decides ownership in O(1), the owner builds and completes the
  * promise, racers block on the promise (not on a ConcurrentHashMap
  * bin stripe, where an unrelated key hashing to the same bin would
  * serialize behind the build, and a reentrant ensure from inside a
  * build function would deadlock). A FAILED build removes its promise
  * so the next caller retries instead of caching the exception; a
  * STALE hit (listing signature changed under the key) is replaced by
  * CAS, so exactly one caller rebuilds per signature change. */
private[sources] object IndexMemo {

  private final case class Entry(sig: String,
      cell: java.util.concurrent.CompletableFuture[String])

  private val ensured =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** `key` = every layout-shaping parameter + the corpus dir;
    * `listingSig` = the dir's current file-listing signature;
    * `tablePrefix` = human-readable table-name stem. `build` receives
    * the derived table name and runs at most once per (key, signature). */
  def ensure(key: String, listingSig: String, tablePrefix: String)(
      build: String => Unit): String = {
    while (true) {
      val fresh = Entry(listingSig,
        new java.util.concurrent.CompletableFuture[String]())
      val prior = ensured.putIfAbsent(key, fresh)
      val won =
        if (prior == null) true
        else if (prior.sig != listingSig)
          // stale: one CAS winner rebuilds; losers loop and re-read
          ensured.replace(key, prior, fresh)
        else {
          // live entry for this signature — await its table name;
          // unwrap the owner's failure so every waiter sees the cause
          try return prior.cell.join()
          catch {
            case e: java.util.concurrent.CompletionException =>
              throw e.getCause
          }
        }
      if (won) {
        val table = tablePrefix + "_" + StoreFamily.md5(key).take(8)
        try {
          build(table) // the expensive part — no map lock held here
          fresh.cell.complete(table)
          return table
        } catch {
          case t: Throwable =>
            fresh.cell.completeExceptionally(t)
            ensured.remove(key, fresh) // next caller retries the build
            throw t
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
