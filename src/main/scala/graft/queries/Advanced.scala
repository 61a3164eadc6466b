package graft.queries

import graft.{GraftQuery, Tables}
import graft.plans.GraftExtensions.kernel
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set operations, pivot, exact order statistics, skew-safe aggregation,
  * and sketches — the remaining relational surface plus the scale patterns
  * (salting, two-phase aggregation) a 100 TB deployment leans on.
  */
object Advanced {

  /** Q70: set operations — customers with any order INTERSECT high-balance
    * customers, EXCEPT recent purchasers. Set ops compile to semi/anti
    * joins + distinct; keys shuffle once each. */
  private val q70 = GraftQuery(
    "q70_set_ops",
    (spark, dir) => {
      val c = Tables.customer(spark, dir)
      val o = Tables.orders(spark, dir)
      val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey")
      val highBal = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      val recent = c.join(
        o.filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
        c("c_custkey") === o("o_custkey"), "left_semi").select("c_custkey")
      withOrders.intersect(highBal).except(recent)
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT
      SELECT c_custkey FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
      ORDER BY c_custkey"""))

  /** Q71: pivot — event counts per user bucket × event_type, spelled as
    * conditional aggregation so the column set is static (a dynamic pivot
    * needs a driver-side distinct pass at scale). */
  private val q71 = GraftQuery(
    "q71_pivot_events",
    (spark, dir) => {
      val types = Seq("click", "view", "purchase", "error", "signup")
      Tables.events(spark, dir)
        .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
        .groupBy(col("user_bucket"))
        .agg(
          count(lit(1)).as("n_total"),
          types.map(t =>
            sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")): _*)
        .orderBy("user_bucket")
    },
    Some {
      val cases = Seq("click", "view", "purchase", "error", "signup")
        .map(t => s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t")
        .mkString(", ")
      s"""
      SELECT CAST(user_id % 10 AS INTEGER) AS user_bucket, count(*) AS n_total, $cases
      FROM events
      GROUP BY 1
      ORDER BY user_bucket"""
    })

  /** Q72: exact per-group median by rank (value at ceil(n/2) in sorted
    * order — identical in both engines, unlike interpolating percentile
    * implementations). At 100 TB the exact form is a single window pass;
    * approx_percentile is the cheaper alternative when error is allowed. */
  private val q72 = GraftQuery(
    "q72_median_price",
    (spark, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(spark, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderpriority")))
        .filter(col("rn") === ((col("n") + 1) / 2).cast("int"))
        .select(col("o_orderpriority"), col("o_totalprice").as("median_price"),
          col("n").as("n_orders"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, o_totalprice AS median_price, n AS n_orders
      FROM (SELECT o_orderpriority, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey) AS rn,
                   count(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM orders)
      WHERE rn = CAST((n + 1) // 2 AS INTEGER)
      ORDER BY o_orderpriority"""))

  /** Q73: two-phase (salted) aggregation — the skew-safe spelling of a
    * groupBy on a low-cardinality hot key: partial aggregate on
    * (key, salt), then final on key. Result provably equals the plain
    * groupBy (the oracle IS the plain groupBy); integer sums make the
    * equivalence exact. */
  private val q73 = GraftQuery(
    "q73_salted_agg",
    (spark, dir) =>
      Tables.events(spark, dir)
        .withColumn("salt", (col("event_id") % 16).cast("int"))
        .groupBy(col("event_type"), col("salt"))
        .agg(
          count(lit(1)).as("pn"),
          sum(floor(col("value") * 1000).cast("long")).as("pmilli"))
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n_events"), sum(col("pmilli")).as("sum_milli"))
        .orderBy("event_type"),
    Some("""
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Q74: distinct-count sketches — exact vs approx_count_distinct (HLL++)
    * per event_type. The approx column has no cross-engine oracle (HLL
    * implementations differ), so this entry is rows-only; AdvancedSpec
    * bounds the relative error against the exact count. */
  private val q74 = GraftQuery(
    "q74_distinct_sketch",
    (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy("event_type"),
    None)

  /** Q75: correlated-aggregate filter (TPC-H Q17 pattern): lineitems whose
    * quantity is below 30% of their part's average. Spelled as an
    * aggregate-then-join (the scalable decorrelation Catalyst would apply
    * to the subquery form anyway); the per-part averages are exact
    * decimal-sum / count divisions. */
  private val q75 = GraftQuery(
    "q75_below_avg_quantity",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val avgQ = li.groupBy(col("l_partkey").as("p_key"))
        .agg((sum(col("l_quantity").cast("decimal(12,2)")).cast("double") /
          count(lit(1))).as("avg_qty"))
      li.join(avgQ, li("l_partkey") === avgQ("p_key"))
        .filter(col("l_quantity") < lit(0.3) * col("avg_qty"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_below"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty_below"))
        .orderBy("l_partkey")
    },
    Some("""
      WITH a AS (
        SELECT l_partkey AS p_key,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey)
      SELECT l_partkey, count(*) AS n_below,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_below
      FROM lineitem JOIN a ON l_partkey = p_key
      WHERE l_quantity < 0.3 * avg_qty
      GROUP BY l_partkey
      ORDER BY l_partkey"""))

  /** Q76: the 6-way regional join chain (TPC-H Q5 shape): revenue per
    * nation for orders shipped by a supplier of the same nation as the
    * customer. Dimensions broadcast; the two fact joins shuffle on their
    * keys; at scale this is the plan whose join ORDER Catalyst's
    * cost-based reorder exists for. */
  private val q76 = GraftQuery(
    "q76_regional_revenue",
    (spark, dir) => {
      val c = Tables.customer(spark, dir)
      val o = Tables.orders(spark, dir)
      val li = Tables.lineitem(spark, dir)
      val s = Tables.supplier(spark, dir)
      val n = Tables.nation(spark, dir)
      val r = Tables.region(spark, dir)
      val rev = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(4,2)"))
      // Round 21 examined q03's pre-aggregation here (the VERDICT item)
      // and MEASURED IT OUT: unlike q03's per-ORDER key (~4 lineitems
      // collapse per group), this join needs the supplier key in the
      // group key, and (orderkey, suppkey) is ~unique per lineitem on a
      // TPC-H-shaped corpus — the extra exchange moved ~every row,
      // reduced nothing, and widened it (the partial decimal-sum buffer
      // outweighs the price/discount columns it replaces). Both closing
      // bench passes regressed +0.75–1.2 s; reverted to the direct join
      // (guide §2.3 only pays when the pre-aggregation actually
      // collapses rows).
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .join(s, li("l_suppkey") === s("s_suppkey") &&
          c("c_nationkey") === s("s_nationkey"))
        .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(rev).cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("r_name", "n_name")
    },
    Some("""
      SELECT r_name, n_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             count(*) AS n_lineitems
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name"""),
    headline = true)

  /** Q77: inter-event gap analysis — lag per user, gap stats per event
    * type. The mean is spelled sum/count explicitly: avg() over bigints
    * accumulates in double (order-dependent), an exact integer sum with
    * one final division is not. */
  private val q77 = GraftQuery(
    "q77_event_gaps",
    (spark, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(spark, dir)
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_gaps"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"),
          (sum(col("gap_us")).cast("double") / count(lit(1))).as("mean_gap_us"))
        .orderBy("event_type")
    },
    Some("""
      WITH g AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events)
      SELECT event_type, count(*) AS n_gaps,
             min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
             CAST(sum(gap_us) AS DOUBLE) / count(*) AS mean_gap_us
      FROM g
      WHERE gap_us IS NOT NULL
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Q78: CUBE grouping sets — all 4 aggregation levels of
    * (event_type, user_bucket) in one pass; explicit NULLS FIRST ordering
    * keeps engine row orders aligned. */
  private val q78 = GraftQuery(
    "q78_cube_events",
    (spark, dir) =>
      Tables.events(spark, dir)
        .withColumn("user_bucket", (col("user_id") % 4).cast("int"))
        .cube(col("event_type"), col("user_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_milli"))
        .orderBy(col("event_type").asc_nulls_first, col("user_bucket").asc_nulls_first),
    Some("""
      SELECT event_type, CAST(user_id % 4 AS INTEGER) AS user_bucket,
             count(*) AS n,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli
      FROM events
      GROUP BY CUBE (event_type, CAST(user_id % 4 AS INTEGER))
      ORDER BY event_type NULLS FIRST, user_bucket NULLS FIRST"""))

  /** Q79: regex extraction (F15 `regexp_extract` pattern,
    * `run_end_to_end.py:270-277`): first numeric token per document plus a
    * has-match rate per language. The pattern stays in the
    * POSIX-compatible subset where Java and RE2-style engines agree. */
  private val q79 = GraftQuery(
    "q79_regex_extract",
    (spark, dir) =>
      Tables.documents(spark, dir)
        .withColumn("first_num", regexp_extract(col("text"), "([0-9]+)", 1))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("first_num") =!= "", 1L).otherwise(0L)).as("n_with_num"),
          max(length(col("first_num"))).as("max_num_len"))
        .orderBy("lang"),
    Some("""
      SELECT lang, count(*) AS n_docs,
             CAST(sum(CASE WHEN coalesce(regexp_extract(text, '([0-9]+)', 1), '') <> ''
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_num,
             max(length(coalesce(regexp_extract(text, '([0-9]+)', 1), ''))) AS max_num_len
      FROM documents
      GROUP BY lang
      ORDER BY lang"""))

  /** Q84: concurrent-interval counting — how many shipments are in transit
    * on each calendar day (transit window = [ship_day, ship_day +
    * transit_days], transit_days derived deterministically from the
    * supplier key). The canonical UNKEYED point-in-interval join, solved
    * WITHOUT a join: each interval contributes a +1 boundary at its start
    * and a −1 the day after its end; group boundaries by day; prefix-sum
    * over the calendar. 100 TB of intervals reduce to ≤ #calendar-days
    * rows after one keyed shuffle — the naive interval×day join the
    * oracle runs (unnest a day series per row) would be |data| × avg
    * window width, which at this corpus's 15-day mean is a 15× blowup
    * BEFORE aggregation and gets worse as windows widen.
    *
    * The prefix-sum window is deliberately single-partition: its input is
    * bounded by the CALENDAR (one row per day, ~2.5k here), not the
    * corpus, so it's constant-cost at any data scale — same argument as
    * q19's decile offsets. The day spine is densified from min/max via
    * `sequence` so zero-delta days inside active ranges still carry their
    * running count (matching the naive join), then 0-transit days drop. */
  /** q84's engine, exposed (package-private) so the generated-interval
    * property test exercises the PRODUCTION spelling, not a copy. Input:
    * (ship_day DATE, transit_days INT) — inclusive window [ship_day,
    * ship_day + transit_days]. Output: (day DATE, n_in_transit LONG) for
    * every day with at least one interval active. */
  private[queries] def concurrentIntervals(
      li: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val deltas = li.select(col("ship_day").as("day"), lit(1L).as("delta"))
      .unionByName(li.select(
        date_add(col("ship_day"), col("transit_days") + 1).as("day"),
        lit(-1L).as("delta")))
      .groupBy("day").agg(sum("delta").as("delta"))
    val spine = deltas.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(deltas, Seq("day"), "left")
      .withColumn("n_in_transit",
        sum(coalesce(col("delta"), lit(0L))).over(w))
      .filter(col("n_in_transit") > 0)
      .select(col("day"), col("n_in_transit"))
  }

  private val q84 = GraftQuery(
    "q84_concurrent_intervals",
    (spark, dir) =>
      concurrentIntervals(
        Tables.lineitem(spark, dir)
          .select(to_date(col("l_shipdate")).as("ship_day"),
            ((col("l_suppkey") % 20) + 5).cast("int").as("transit_days")))
        .select(col("day").cast("timestamp").as("day"), col("n_in_transit"))
        .orderBy("day"),
    Some("""
      WITH iv AS (
        SELECT CAST(l_shipdate AS DATE) AS ship_day,
               CAST(l_suppkey % 20 + 5 AS INTEGER) AS transit_days
        FROM lineitem),
      days AS (
        SELECT CAST(unnest(generate_series(CAST(ship_day AS TIMESTAMP),
             CAST(ship_day AS TIMESTAMP) + transit_days * INTERVAL 1 DAY,
             INTERVAL 1 DAY)) AS DATE) AS day
        FROM iv)
      SELECT CAST(day AS TIMESTAMP) AS day, count(*) AS n_in_transit
      FROM days GROUP BY day ORDER BY day"""),
    headline = true)

  /** Q97: heavy-hitter mining with a bounded-memory sketch + exact
    * confirmation — the pattern that replaces "GROUP BY the whole
    * keyspace" when the keyspace dwarfs memory but only the frequent
    * tail matters (repeated-boilerplate mining, hot-key detection before
    * salting, popular-query logs). Finds every word trigram whose corpus
    * frequency exceeds N/k exactly, in two passes:
    *
    * pass 1 — the `mg_candidates` CATALYST AGGREGATE
    * ([[graft.plans.MisraGriesAgg]] over [[graft.core.sketch.MisraGries]]):
    * O(k) memory per partial buffer regardless of vocabulary, map-side
    * partial aggregation, and PODS'12-mergeable partials — so the final
    * candidate array is bounded by k TOTAL (not k × partitions: Spark
    * merges the partial summaries pairwise and every merge re-prunes to
    * k) while still PROVABLY containing every gram with global frequency
    * > N/(k+1) (survival + mergeability arguments in the kernel's
    * scaladoc). N rides along as a count(*) in the same aggregation, so
    * pass 1 is exactly one corpus scan.
    *
    * pass 2 — exact counts of the candidate superset only (semi-join
    * against the exploded ≤k-row candidate table — always broadcastable
    * by construction) and the exact threshold filter k·cnt > N in
    * integer math. The output is therefore EXACTLY the answer of the
    * full GROUP BY ... HAVING the oracle runs — the sketch only routes,
    * never decides (the q81 Bloom rule).
    *
    * Unlike q54/q87 (TakeOrdered top-k: ranks, no guarantee), this is
    * threshold-complete: nothing above N/k can be missed. Scale shape:
    * two corpus passes, one keyed shuffle on the (candidate-pruned) gram
    * key, one one-row ObjectHashAggregate output. The sketch survivor
    * SET depends on partition/merge order; the output does not (superset
    * + exact recount — pinned by R13OpsSpec's layout-invariance test). */
  private val q97 = {
    val k = 5000
    GraftQuery(
      "q97_heavy_hitters",
      (spark, dir) => {
        import spark.implicits._
        val grams = Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"))
          .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .select(explode(expr(
            "transform(sequence(1, size(toks)-2), " +
              "i -> concat_ws(' ', slice(toks, i, 3)))")).as("g"))
        // Pass 1: one corpus scan -> a ONE-ROW summary (candidate array
        // + stream length), produced by the mergeable sketch aggregate.
        // Checkpointed because two consumers read it (N and the exploded
        // candidate table); it is a single row either way.
        val summary = grams
          .agg(kernel("mg_candidates", col("g"), lit(k)).as("cands"),
            count(lit(1)).as("n"))
          .localCheckpoint(eager = true)
        val n = summary.select("n").as[Long].head()
        val cands = summary.select(explode(col("cands")).as("g"))
        // Pass 2: exact recount of candidates only.
        grams.join(cands, Seq("g"), "left_semi")
          .groupBy("g").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * k > n)
          .orderBy("g")
      },
      Some(s"""
        WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        tri AS (
          SELECT unnest(toks[1:len(toks)-2]) || ' ' || unnest(toks[2:len(toks)-1])
                 || ' ' || unnest(toks[3:len(toks)]) AS g
          FROM t WHERE len(toks) >= 3)
        SELECT g, count(*) AS cnt FROM tri GROUP BY g
        HAVING count(*) * $k > (SELECT count(*) FROM tri)
        ORDER BY g"""),
      headline = true)
  }

  /** Q107: corpus PROFILE — the ANALYZE-style per-column audit every
    * ingestion run records before anything else trusts the data: row
    * count, null count, exact distinct count, lexicographic min/max of
    * the string rendering (type-agnostic, so one profile row shape fits
    * every column), and mean rendered length. ONE corpus scan: all five
    * columns' statistics compute in a single wide aggregation (Spark
    * plans the multi-distinct via Expand — rows × columns, still one
    * scan) and `stack` unpivots the one-row result into the per-column
    * report. At 100 TB the exact distincts are the expensive part —
    * the documented cheap variant swaps `count_distinct` for
    * `approx_count_distinct` (HLL, q74's machinery) without changing
    * the plan shape. */
  private val q107 = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    GraftQuery(
      "q107_corpus_profile",
      (spark, dir) => {
        val d = Tables.documents(spark, dir)
        val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap { c =>
          Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
            countDistinct(col(c)).as(s"${c}_distinct"),
            min(col(c).cast("string")).as(s"${c}_min"),
            max(col(c).cast("string")).as(s"${c}_max"),
            sum(length(col(c).cast("string")).cast("long")).as(s"${c}_len"))
        }
        val stackArgs = cols.map(c =>
          s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max, ${c}_len")
          .mkString(", ")
        d.agg(aggs.head, aggs.tail: _*)
          .selectExpr("n_rows",
            s"stack(${cols.size}, $stackArgs) AS " +
              "(column_name, n_nulls, n_distinct, min_str, max_str, sum_len)")
          .select(col("column_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_str"), col("max_str"),
            (col("sum_len").cast("double") / (col("n_rows") - col("n_nulls")))
              .as("avg_len"))
          .orderBy("column_name")
      },
      Some {
        val aggSelects = cols.map { c =>
          s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_nulls,
              CAST(count(DISTINCT $c) AS BIGINT) AS ${c}_distinct,
              min(CAST($c AS VARCHAR)) AS ${c}_min,
              max(CAST($c AS VARCHAR)) AS ${c}_max,
              CAST(sum(strlen(CAST($c AS VARCHAR))) AS BIGINT) AS ${c}_len"""
        }.mkString(", ")
        val unions = cols.map { c =>
          s"""SELECT '$c' AS column_name, n_rows, ${c}_nulls AS n_nulls,
                ${c}_distinct AS n_distinct, ${c}_min AS min_str,
                ${c}_max AS max_str,
                CAST(${c}_len AS DOUBLE) / (n_rows - ${c}_nulls) AS avg_len
              FROM s"""
        }.mkString("\n UNION ALL ")
        s"""
        WITH s AS (
          SELECT count(*) AS n_rows, $aggSelects FROM documents)
        SELECT * FROM ($unions)
        ORDER BY column_name"""
      },
      headline = true)
  }

  /** Q117: the APPROX corpus profile — q107 with every exact
    * `count_distinct` swapped for `approx_count_distinct` (HyperLogLog++,
    * the same machinery as q74's sketch). q107's plan pays an Expand node
    * for the 5 exact multi-distincts — scan rows × 5 into the partial
    * aggregate; the HLL swap removes the Expand ENTIRELY (pinned in
    * PlanShapeSpec: one scan, partial HLL sketches, one merge — the
    * aggregation is a constant-size sketch per column instead of a
    * distinct-expanded row stream). This is the variant a 100 TB profile
    * run uses when exact cardinalities aren't required.
    *
    * No oracle by cross-engine impossibility (q74's documented
    * argument: HLL register layouts and hash functions differ across
    * engines, so the estimates are not bit-comparable); the driver
    * records the rows-only check, and AdvancedSpec bounds every
    * estimate within HLL's published error (rsd 5% default) of the
    * exact q107 counts. */
  private val q117 = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    GraftQuery(
      "q117_corpus_profile_approx",
      (spark, dir) => {
        val d = Tables.documents(spark, dir)
        val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap { c =>
          Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
            approx_count_distinct(col(c)).as(s"${c}_distinct"),
            min(col(c).cast("string")).as(s"${c}_min"),
            max(col(c).cast("string")).as(s"${c}_max"),
            sum(length(col(c).cast("string")).cast("long")).as(s"${c}_len"))
        }
        val stackArgs = cols.map(c =>
          s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max, ${c}_len")
          .mkString(", ")
        d.agg(aggs.head, aggs.tail: _*)
          .selectExpr("n_rows",
            s"stack(${cols.size}, $stackArgs) AS " +
              "(column_name, n_nulls, n_distinct, min_str, max_str, sum_len)")
          .select(col("column_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_str"), col("max_str"),
            (col("sum_len").cast("double") / (col("n_rows") - col("n_nulls")))
              .as("avg_len"))
          .orderBy("column_name")
      },
      None,
      headline = true)
  }

  /** Q108: snapshot DRIFT check — the monitoring gate a recurring-crawl
    * pipeline runs beside q98's diff: compare the document-length
    * distribution of two corpus snapshots (the q98 derivations) over
    * fixed buckets and flag shift. The usual monitoring statistic (PSI)
    * takes logs, which are not bit-specified across engines, so the
    * reported per-bucket statistic is the exactly-integer SCALED L1 term
    * |c1·T2 − c2·T1| (zero iff the bucket's rates match exactly; the
    * sum is T1·T2 × total-variation distance — same ordering, same
    * zero-set, engine-exact), with the IEEE-exact rates alongside for
    * human eyes.
    *
    * Scale shape: one narrow scan per snapshot reduced to (bucket)
    * at the source, partial-agg conditional counts onto a ≤10-row
    * keyspace, totals folded back via one broadcast crossJoin. Nothing
    * but the scans grows with the corpus. */
  private val q108 = GraftQuery(
    "q108_snapshot_drift",
    (spark, dir) => {
      val base = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      def bucket(nc: org.apache.spark.sql.Column) =
        least(lit(9L), (nc / 64).cast("long"))
      val v1 = base.filter(col("doc_id") % 17 =!= 3)
        .select(bucket(col("n_chars")).as("bucket"), lit(1).as("v"))
      val v2 = base.filter(col("doc_id") % 13 =!= 5)
        .select(bucket(col("n_chars") +
            when(col("doc_id") % 7 === 2, 4L).otherwise(0L)).as("bucket"),
          lit(2).as("v"))
      val counts = v1.unionByName(v2).groupBy("bucket").agg(
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("v") === 2, 1L).otherwise(0L)).as("c2"))
      val totals = counts.agg(sum("c1").as("t1"), sum("c2").as("t2"))
      counts.crossJoin(broadcast(totals))
        .select(col("bucket"), col("c1"), col("c2"),
          (col("c1").cast("double") / col("t1")).as("rate1"),
          (col("c2").cast("double") / col("t2")).as("rate2"),
          abs(col("c1") * col("t2") - col("c2") * col("t1")).as("l1_scaled"))
        .orderBy("bucket")
    },
    Some("""
      WITH b1 AS (
        SELECT least(9, n_chars // 64) AS bucket FROM documents
        WHERE doc_id % 17 <> 3),
      b2 AS (
        SELECT least(9, (n_chars + CASE WHEN doc_id % 7 = 2 THEN 4 ELSE 0 END) // 64)
          AS bucket
        FROM documents WHERE doc_id % 13 <> 5),
      u AS (
        SELECT bucket, 1 AS v FROM b1
        UNION ALL
        SELECT bucket, 2 AS v FROM b2),
      c AS (
        SELECT bucket,
               CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM u GROUP BY bucket),
      t AS (SELECT CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c2) AS BIGINT) AS t2 FROM c)
      SELECT bucket, c1, c2,
             CAST(c1 AS DOUBLE) / t1 AS rate1,
             CAST(c2 AS DOUBLE) / t2 AS rate2,
             CAST(abs(c1 * t2 - c2 * t1) AS BIGINT) AS l1_scaled
      FROM c CROSS JOIN t
      ORDER BY bucket"""),
    headline = true)

  val all: Seq[GraftQuery] =
    Seq(q70, q71, q72, q73, q74, q75, q76, q77, q78, q79, q84, q97, q107,
      q108, q117)
}
